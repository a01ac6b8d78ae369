"""One benchmark workload, run in its own process by ``run.py``.

Order of a run:

1. make the inputs: the seeded listings CSVs, or for query workloads the
   tables (the reference test data in ``data/``, scaled up for the
   analytics entries by ``tools/make_scaled_testdata.py``) and their
   DuckDB oracle results; timed as ``data_gen_s``, outside ``setup_s``;
2. set-up (``setup_s``): ``get_spark`` in a fresh JVM, then a warm-up
   that touches every table and kernel of the workload: for query
   workloads the check pass, which collects every entry's result and
   compares it with the entry's oracle; for the ETL workload four
   batches.  Only the program's own work is timed: the checks and
   status-store reads in between are not;
3. the timed phase: a closed loop with one client, each operation
   starting when the previous one has finished.  Every ETL batch, timed
   or not, is checked after it ends, untimed.

With ``--trace 1`` the timed phase records spans and reads Spark's status
store after every operation; its ``trace.ops_per_s`` against the
``ops_per_s`` of an untraced run with the same seed is the tracing
overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_listings  # noqa: E402
from spans import RssSampler, SparkStats, Tracer  # noqa: E402

ETL_DATES = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
ETL_WARMUP_DATE = "2023-12-31"
# the first ETL batch of a JVM takes about six times as long as a warm
# one, the second 1.6 times, the third and fourth still 10-20% longer
ETL_WARMUP_BATCHES = 4
OPERATOR_MODULES = ("relational", "advanced", "windows", "dedup",
                    "similarity", "text", "multimodal", "graph")

# a byte-for-byte copy of the engine's reference test data at sf 0.01
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

# ``min_passes``: timed passes a run makes at least, whatever
# ``--seconds`` says, so that every run takes the same number of samples
# of every entry (see README.md).  ``entries``: registry entry -> copies
# of DATA_DIR it reads (``tools/make_scaled_testdata.py``)
WORKLOADS = {
    "etl_listings": {"kind": "etl", "min_passes": 4,
                     "files": 11, "rows_per_file": 5000},
    "query_mix": {
        "kind": "query",
        "min_passes": 3,
        "entries": {
            # JVM-only analytics: scan, join, shuffle, aggregation, streaming
            "pricing_summary": 5,
            "join_shuffle_multiway": 5,
            "window_topk_per_customer": 5,
            "salted_agg_hot_key": 5,
            "streaming_tumbling_agg": 5,
            # LLM-data curation: mapInPandas kernels, persist, eager jobs
            # run while the lazy frame is built
            "simhash_dedup": 1,
            "knn_gemm": 1,
            "bm25_scoring": 1,
            "multimodal_decode": 1,
            "part_cooccurrence_lift": 1,
        },
    },
}

END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
                    "op_tail_s": "s", "peak_rss_mb": "MB", "rows_per_s": "1/s"}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's hidden and
    underscore-prefixed metadata files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = os.path.abspath(args.work)
        self.tracer = Tracer()
        self.stats: SparkStats | None = None
        self.failed_entries: dict[str, str] = {}
        # entry ("fresh" and "rerun" for ETL) -> records its stages read
        self.input_records: dict[str, float] = {}
        self.info: dict[str, float] = {}
        self.op_count = 0
        self.spark = None

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        t0 = time.perf_counter()
        seed = self.args.seed
        if self.cfg["kind"] == "etl":
            self.listings = gen_listings.generate(
                os.path.join(self.work, "listings"), seed,
                self.cfg["files"], self.cfg["rows_per_file"])
            self.warehouse = os.path.join(self.work, "warehouse")
            self.exports = os.path.join(self.work, "exports")
        else:
            from airflow_postgres_to_s3_pipeline_spark import registry

            self.registry = registry
            self.data_dirs: dict[str, str] = {}
            self.expected = {}
            for scale in sorted(set(self.cfg["entries"].values())):
                data_dir = DATA_DIR
                if scale > 1:
                    data_dir = os.path.join(self.work, f"tables-x{scale}")
                    subprocess.run(
                        [sys.executable,
                         os.path.join(ROOT, "tools", "make_scaled_testdata.py"),
                         DATA_DIR, data_dir, str(scale)],
                        check=True, stdout=subprocess.DEVNULL)
                names = [e for e, k in self.cfg["entries"].items() if k == scale]
                self.data_dirs.update(dict.fromkeys(names, data_dir))
                self.expected.update(check.oracle_results(
                    data_dir, names, registry.ORACLES))
            self.comparator_ok = self._comparator_rejects_wrong_result()
        self.info["data_gen_s"] = time.perf_counter() - t0

    def _comparator_rejects_wrong_result(self) -> bool:
        """The oracle's own rows must pass and a deliberately wrong result
        (one row dropped) must be reported as a mismatch."""
        for exp in self.expected.values():
            if exp and exp[1]:
                cols = sorted(exp[0])  # normalized rows are in this order
                return (check.compare(cols, exp[1], exp) is None
                        and check.compare(cols, exp[1][:-1], exp) is not None)
        return check.compare(["x"], [], None) is not None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """``get_spark`` in a fresh JVM, then the warm-up: the check pass
        (query workloads) or four checked batches (ETL).  ``warmup_s``
        sums the program's calls only."""
        from airflow_postgres_to_s3_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.info["get_spark_s"] = time.perf_counter() - t0
        self.stats = SparkStats(self.spark)
        if self.cfg["kind"] == "etl":
            warm = 0.0
            for i in range(ETL_WARMUP_BATCHES):
                op = self._operation(ETL_WARMUP_DATE, spark_stats=True)
                print(f"warm batch{i} {op['latency']:.4f}s", file=sys.stderr)
                warm += op["latency"]
                if not op["ok"]:
                    self.failed_entries["etl"] = op["error"]
                self.input_records["rerun" if i else "fresh"] = (
                    op["spark"]["input_records"])
        else:
            warm = self._query_warmup()
        self.info["warmup_s"] = warm

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            # keep JVM scratch files inside the run's work directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def _query_warmup(self) -> float:
        """The check pass: run every entry once, collect its result and
        compare it with the entry's oracle, and read from the status store
        how many records its stages read (for ``rows_per_s``).  Returns the
        seconds spent in the program's calls."""
        warm = 0.0
        for name in self.cfg["entries"]:
            reason, seconds = self._check_entry(name)
            print(f"warm {name} {seconds:.4f}s", file=sys.stderr)
            warm += seconds
            if reason:
                self.failed_entries[name] = reason
        return warm

    def _check_entry(self, name: str) -> tuple[str | None, float]:
        """Mismatch reason of the entry's collected result against its
        oracle, or None; and the seconds the entry took to build and
        collect."""
        from airflow_postgres_to_s3_pipeline_spark import cache

        wall0, t0 = time.time(), time.perf_counter()
        seconds = 0.0
        try:
            df = self.registry.QUERIES[name](self.spark, self.data_dirs[name])
            rows = df.collect()
            seconds = time.perf_counter() - t0
            rows = [tuple(r) for r in rows]
            return check.compare(df.columns, rows, self.expected[name]), seconds
        except Exception as exc:  # an entry that raises is a failed check
            traceback.print_exc()
            return f"raised {type(exc).__name__}: {exc}"[:300], seconds
        finally:
            cache.release_persisted()
            self.input_records[name] = self.stats.read(
                wall0, time.time())["input_records"]

    # -- operations ----------------------------------------------------------
    def timed_phase(self, seconds: float, traced: bool,
                    rss: RssSampler) -> list[dict]:
        """Closed loop until the summed operation time reaches ``seconds``,
        in whole passes, so that every run measures the same mix.  A query
        pass runs every entry once, in a seeded order, and a run makes at
        least the workload's ``min_passes``.  An ETL pass starts from an
        empty warehouse (emptied untimed) and loads the next date of
        ``ETL_DATES`` twice: first as a new partition (entry ``fresh``),
        then through the dynamic-partition re-run (entry ``rerun``).

        Before each pass, untimed, the JVM runs a full collection, which
        also shrinks its heap, and the RSS is left to settle; the last
        operation of a pass carries the pass's peak RSS.  Without the
        collection the peak mostly shows how far the heap happened to grow
        earlier in the run.  The ETL workload collects before every batch
        and records every batch's peak: its peaks were not steady with one
        collection per pass, and its latency does not change with the
        collection.  The query workload collects once per pass: a
        collection before each entry slowed the curation entries by a
        quarter, as every entry grew the heap back."""
        ops: list[dict] = []
        busy = 0.0
        rng = random.Random(self.args.seed)
        passes = 0
        while busy < seconds or passes < self.cfg["min_passes"]:
            if self.cfg["kind"] == "etl":
                shutil.rmtree(self.warehouse, ignore_errors=True)
                shutil.rmtree(self.exports, ignore_errors=True)
                ds = ETL_DATES[passes % len(ETL_DATES)]
                batch = [("fresh", ds), ("rerun", ds)]
            else:
                batch = [(e, e) for e in self.cfg["entries"]]
                rng.shuffle(batch)
            passes += 1
            per_op = self.cfg["kind"] == "etl"
            for i, (entry, item) in enumerate(batch):
                if i == 0 or per_op:
                    self.spark._jvm.java.lang.System.gc()
                    rss.settle()
                    rss.take_peak()
                op = self._operation(item, traced, spark_stats=traced)
                op["entry"] = entry
                ops.append(op)
                busy += op["latency"]
                if per_op or i == len(batch) - 1:
                    op["rss_peak"] = rss.take_peak()
        self.tracer.op_id = None
        return ops

    def _operation(self, item: str, traced: bool = False,
                   spark_stats: bool = False) -> dict:
        from airflow_postgres_to_s3_pipeline_spark import cache, pipeline

        tr = self.tracer
        tr.op_id = self.op_count
        self.op_count += 1
        op = {"item": item, "ok": True, "span_op": tr.op_id}
        wall0, t0 = time.time(), time.perf_counter()
        try:
            if self.cfg["kind"] == "etl":
                with tr.span("op"), tr.span("pipeline.run_pipeline"):
                    pipeline.run_pipeline(
                        self.spark, self.listings["paths"], self.warehouse,
                        os.path.join(self.exports, item), ds=item)
            else:
                fn = self.registry.QUERIES[item]
                mod = self.module_of(item)
                with tr.span("op"):
                    try:
                        with tr.span(f"operators.{mod}.build"):
                            df = fn(self.spark, self.data_dirs[item])
                        with tr.span(f"operators.{mod}.execute"):
                            df.write.format("noop").mode("overwrite").save()
                        if traced:
                            op["stored_bytes"] = self.stats.cached_bytes()
                    finally:
                        cache.release_persisted()
        except Exception as exc:  # the loop keeps running; the op failed
            traceback.print_exc()
            op["ok"] = False
            op["error"] = repr(exc)[:300]
        op["latency"] = time.perf_counter() - t0
        wall1 = time.time()
        if spark_stats:
            op["spark"] = self.stats.read(wall0, wall1)
        if self.cfg["kind"] == "etl" and op["ok"]:
            reason = check.etl_batch(
                self.warehouse, os.path.join(self.exports, item), item,
                self.listings["rows"], self.listings["null_prices"])
            if reason:
                op["ok"], op["error"] = False, reason
            if traced:
                part = os.path.join(self.warehouse, f"load_date={item}")
                op["warehouse"] = dir_bytes(part)
                op["export"] = dir_bytes(os.path.join(self.exports, item))
        return op

    def module_of(self, entry: str) -> str:
        mod = self.registry.QUERIES[entry].__module__.rsplit(".", 1)[-1]
        return "streaming" if mod == "registry" else mod

    # -- metrics ---------------------------------------------------------------
    def end_to_end(self, ops: list[dict]) -> dict[str, float]:
        """Each figure comes from per-entry medians, so that a slow
        operation on a shared host moves its entry's figure, not the whole
        run's.  A pass in which every entry takes its median latency gives
        the throughput; the typical operation (``op_p50_s``) is the
        geometric mean of the entry medians and the tail the slowest
        entry's median.  ``rows_per_s`` counts the records the entries'
        Spark stages read in the warm-up; ``peak_rss_mb`` is the median of
        the recorded peaks (one per pass, or per ETL batch)."""
        by_entry: dict[str, list[dict]] = {}
        for o in ops:
            by_entry.setdefault(o["entry"], []).append(o)
        med = {k: statistics.median(o["latency"] for o in v)
               for k, v in by_entry.items()}
        pass_s = sum(med.values())
        rows = sum(self.input_records[k] for k in med)
        self.info["ops"] = len(ops)
        return {
            "ops_per_s": len(med) / pass_s,
            "op_p50_s": statistics.geometric_mean(med.values()),
            "op_tail_s": max(med.values()),
            "rows_per_s": rows / pass_s,
            "peak_rss_mb": statistics.median(
                o["rss_peak"] for o in ops if "rss_peak" in o) / 2**20,
        }

    def per_layer(self, ops: list[dict]) -> dict:
        tr = self.tracer
        n = len(ops)
        ids = {o["span_op"] for o in ops}
        tot = tr.totals(ids)
        m: dict[str, float] = {
            "catalog.table_calls": tr.catalog_calls / n,
            "catalog.table_s": tot.get("catalog.table", 0.0) / n,
            "catalog.table_hit_ratio":
                tr.catalog_hits / tr.catalog_calls if tr.catalog_calls else 0.0,
        }
        for mod in OPERATOR_MODULES:
            k = sum(1 for o in ops if self.cfg["kind"] != "etl"
                    and self.module_of(o["item"]) == mod)
            for part in ("build", "execute"):
                m[f"operators.{mod}.{part}_s"] = (
                    tot.get(f"operators.{mod}.{part}", 0.0) / k if k else 0.0)
        sp = {f: sum(o["spark"][f] for o in ops) / n
              for f in SparkStats.FIELDS}
        for f in ("jobs", "stages", "tasks"):
            m[f"spark.{f}_per_op"] = sp[f]
        for f in ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_s",
                  "input_records", "failed_tasks"):
            m[f"spark.{f}"] = sp[f]
        m["spark.driver_gap_s"] = sum(
            o["latency"] - o["spark"]["stage_busy_s"] for o in ops) / n
        m["spark.offcpu_ratio"] = (
            1.0 - sp["executor_cpu_s"] / sp["executor_run_s"]
            if sp["executor_run_s"] else 0.0)
        m["cache.persists_per_op"] = tr.persists / n
        m["cache.stored_bytes"] = sum(o.get("stored_bytes", 0) for o in ops) / n
        m["cache.release_s"] = tot.get("cache.release", 0.0) / n
        for f in ("load_warehouse", "export_query", "export_to_storage"):
            m[f"pipeline.{f}_s"] = tot.get(f"pipeline.{f}", 0.0) / n
        wh = [o.get("warehouse", (0, 0)) for o in ops]
        ex = [o.get("export", (0, 0)) for o in ops]
        m["pipeline.warehouse_bytes"] = sum(b for b, _ in wh) / n
        m["pipeline.export_bytes"] = sum(b for b, _ in ex) / n
        m["pipeline.files_written"] = sum(f for _, f in wh + ex) / n
        m["pipeline.stored_bytes_per_input_byte"] = (
            (m["pipeline.warehouse_bytes"] + m["pipeline.export_bytes"])
            / self.listings["bytes"] if self.cfg["kind"] == "etl" else 0.0)
        k = sum(1 for o in ops if self.cfg["kind"] != "etl"
                and self.module_of(o["item"]) == "streaming")
        m["streaming.run_stream_to_memory_s"] = (
            tot.get("streaming.run_stream_to_memory", 0.0) / k if k else 0.0)
        return m

    def stored_ratio(self, ds: str) -> float:
        """Warehouse plus export bytes per input CSV byte, per batch."""
        wh = dir_bytes(os.path.join(self.warehouse, f"load_date={ds}"))
        ex = dir_bytes(os.path.join(self.exports, ds))
        return (wh[0] + ex[0]) / self.listings["bytes"]

    # -- run ---------------------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        phase("start")
        self.prepare()
        phase("prepared")
        with RssSampler() as rss:
            self.setup()
            phase("set up")
            if args.trace:
                self.tracer.install()
                self.stats.skip_seen()
            cpu0 = cpu_ticks()
            ops = self.timed_phase(args.seconds, bool(args.trace), rss)
            cpu1 = cpu_ticks()
            phase("timed")
        # the share of the host's CPU time the hypervisor gave to other
        # guests during the timed phase: when it is high, every figure of
        # the run is slow
        self.info["steal_ratio"] = (
            (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)))
        metrics = self.end_to_end(ops)
        metrics["setup_s"] = self.info["get_spark_s"] + self.info["warmup_s"]
        if args.trace:
            layers = self.per_layer(ops)
            layers["session.get_spark_s"] = self.info["get_spark_s"]
            layers["session.warmup_s"] = self.info["warmup_s"]
            # tracing overhead: this against ops_per_s of an untraced run
            layers["trace.ops_per_s"] = metrics["ops_per_s"]
            self.report_spans(ops)
        if self.cfg["kind"] == "etl":
            self.info["stored_bytes_per_input_byte"] = self.stored_ratio(
                ops[-1]["item"])
        failed = sum(1 for o in ops
                     if not o["ok"] or o["item"] in self.failed_entries
                     or "etl" in self.failed_entries)
        self.info["failed_ratio"] = failed / len(ops)
        for o in ops:
            print(f"op {o['entry']} {o['item']} {o['latency']:.4f}s"
                  + (f" pass_rss={o['rss_peak'] / 2**20:.0f}MB"
                     if "rss_peak" in o else "")
                  + ("" if o["ok"] else f" FAILED {o.get('error')}"),
                  file=sys.stderr)
        for name, reason in self.failed_entries.items():
            print(f"CHECK FAILED {name}: {reason}", file=sys.stderr)
        correct = failed == 0 and not self.failed_entries and (
            self.cfg["kind"] == "etl" or self.comparator_ok)
        if args.trace:
            out = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
        else:
            out = {k: {"value": metrics[k], "unit": unit}
                   for k, unit in END_TO_END_UNITS.items()}
        print(f"host {host_epoch()} cpus {len(os.sched_getaffinity(0))}"
              f" spark_cpus {os.environ.get('SPARK_GRAFT_CPUS')}")
        for k, v in self.info.items():
            print(f"info {args.workload} {k} {v:.6g} {layer_unit(k)}")
        for k, v in out.items():
            print(f"metric {args.workload} {k} {v['value']:.6g} {v['unit']}")
        return {"correct": correct, "attempted": len(ops), "failed": failed,
                "metrics": out}

    def report_spans(self, traced: list[dict]) -> None:
        os.makedirs(os.path.join(self.work, "trace"), exist_ok=True)
        path = os.path.join(
            self.work, "trace",
            f"spans-{self.args.workload}-{self.args.seed}.json")
        self.tracer.dump(path)
        n = len(traced)
        ids = {o["span_op"] for o in traced}
        for name, s in sorted(self.tracer.self_times(ids).items(),
                              key=lambda kv: -kv[1]):
            print(f"self_time {name} {s / n:.6g} s/op", file=sys.stderr)
        print(f"spans written to {path}", file=sys.stderr)


def phase(name: str) -> None:
    print(f"phase {name} {time.perf_counter() - START:.2f}s", file=sys.stderr)


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_epoch() -> str:
    """Kernel release plus a hash of the CPU model, as ``bench.py`` stamps
    its lines: figures compare only within one epoch."""
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.lower().startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return f"{platform.release()}/{hashlib.sha256(model.encode()).hexdigest()[:8]}"


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "per_input_byte")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    run = Run(ap.parse_args())
    try:
        result = run.main()
    finally:
        if run.spark is not None:
            run.spark.stop()
            phase("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
