"""Measurement taken from outside the engine package.

- ``Tracer``: in-memory spans (name, start, end, parent span, operation
  id) plus the wrappers that record them around the package's public
  functions, wherever those functions are bound.
- ``SparkStats``: per-operation job, stage and task metrics read from
  Spark's own status store after the operation.
- ``RssSampler``: peak summed RSS of this process and all of its
  descendants (JVM, Python workers), sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "airflow_postgres_to_s3_pipeline_spark"


def rebind(original, replacement) -> int:
    """Point every package-module global bound to ``original`` at
    ``replacement``.  Operator modules import ``table`` and
    ``tracked_persist`` by name, so patching only the defining module
    would miss their calls.  Returns how many bindings changed."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


class Tracer:
    """Spans kept in memory and written out once at the end."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.catalog_calls = 0
        self.catalog_hits = 0
        self.persists = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the layer boundaries named in the benchmark notes and
        start recording."""
        import importlib

        self.enabled = True
        catalog = importlib.import_module(f"{PKG}.catalog")
        cache = importlib.import_module(f"{PKG}.cache")
        pipeline = importlib.import_module(f"{PKG}.pipeline")
        swin = importlib.import_module(f"{PKG}.streaming.windows")

        table = catalog.table

        def traced_table(spark, sf_dir, name):
            # a hit is a frame already in the per-session table cache
            per_session = getattr(catalog, "_TABLE_CACHE", {}).get(spark, {})
            self.catalog_calls += 1
            self.catalog_hits += (os.path.abspath(sf_dir), name) in per_session
            with self.span("catalog.table"):
                return table(spark, sf_dir, name)

        rebind(table, traced_table)
        rebind(cache.tracked_persist,
               self.wrap("cache.tracked_persist", cache.tracked_persist))
        release = cache.release_persisted

        def traced_release():
            with self.span("cache.release"):
                n = release()
            self.persists += n
            return n

        rebind(release, traced_release)
        # run_pipeline and the streaming entries look these up as module
        # attributes, so rebinding the module global reaches every call
        for fname in ("load_warehouse", "export_query", "export_to_storage"):
            fn = getattr(pipeline, fname)
            rebind(fn, self.wrap(f"pipeline.{fname}", fn))
        rebind(swin.run_stream_to_memory,
               self.wrap("streaming.run_stream_to_memory",
                         swin.run_stream_to_memory))

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Total self time per span name, over the given operations: a
        span's duration minus the part of its interval child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] not in ops:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def totals(self, ops: set[int]) -> dict[str, float]:
        """Summed duration per span name, over the given operations."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkStats:
    """Jobs, stages and task metrics of one operation, from the status store.

    One client runs one operation at a time, so every job started since
    the previous read belongs to the current operation, including jobs a
    streaming query runs on its own thread (those carry the query's job
    group, not ours)."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "gc_s", "input_records", "stage_busy_s",
    )

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.skip_seen()

    def skip_seen(self) -> None:
        """Forget the jobs run so far (set-up)."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.jsc.statusStore().jobsList(None)  # a Scala Seq
        self.next_job = 1 + max(
            (jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)

    def read(self, t_start: float, t_end: float) -> dict[str, float]:
        """Metrics of the jobs started since the last read; ``t_start`` and
        ``t_end`` (epoch seconds) bound the operation for the stage-busy
        interval union."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        misses, jid = 0, self.next_job
        while misses < 3:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: not started
                misses += 1
                jid += 1
                continue
            misses = 0
            self.next_job = jid + 1
            jid += 1
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.length()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled())
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_records"] += st.inputRecords()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3,
                                      done.get().getTime() / 1e3))
        out["stage_busy_s"] = _union(intervals, t_start, t_end)
        return out

    def cached_bytes(self) -> int:
        """Memory plus disk held by cached RDDs right now."""
        return sum(
            info.memSize() + info.diskSize()
            for info in self.jsc.getRDDStorageInfo()
        )


def _union(intervals, lo: float, hi: float) -> float:
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class RssSampler:
    """Peak of the summed RSS of this process tree, sampled every 0.1 s."""

    def __init__(self) -> None:
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:  # process ended between listdir and open
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            kids = children.get(frontier.pop(), [])
            tree += kids
            frontier += kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def settle(self, limit_s: float = 2.0) -> None:
        """Wait until the summed RSS stops falling: after a full collection
        the JVM returns the freed heap to the OS from a background thread
        (about 0.2 GB within half a second after an ETL batch).  A peak
        taken before that would still count the previous operation's
        heap."""
        deadline = time.monotonic() + limit_s
        last = self.sample()
        while time.monotonic() < deadline:
            time.sleep(0.2)
            now = self.sample()
            if now > last * 0.99:
                return
            last = now

    def take_peak(self) -> int:
        """The peak since the previous call (a fresh sample at least)."""
        now = self.sample()
        with self._lock:
            peak, self.peak = max(self.peak, now), 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            now = self.sample()
            with self._lock:
                self.peak = max(self.peak, now)
