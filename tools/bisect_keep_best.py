"""Stage-time the dedup_keep_best chain (r7 VERDICT task 4).

The driver trend showed 3.04 -> 3.26 -> 4.18s across r5-r7 without the
plan changing, so this attributes wall time to the chain's three stages —
MinHash-LSH pair generation, connected components, and the quality
join/argmax — on an idle host, each forced end-to-end with a noop sink.

Run:  python tools/bisect_keep_best.py [sf_dir]
Prints one JSON line per stage plus the composed query, min-of-N warm.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_postgres_to_s3_pipeline_spark.cache import release_persisted
from airflow_postgres_to_s3_pipeline_spark.session import get_spark
from airflow_postgres_to_s3_pipeline_spark.catalog import table


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark(app_name="bisect_keep_best")
    spark.sparkContext.setLogLevel("ERROR")

    from airflow_postgres_to_s3_pipeline_spark.operators import dedup
    from airflow_postgres_to_s3_pipeline_spark.operators.text import doc_quality

    d = table(spark, sf_dir, "documents")
    shards = spark.sparkContext.defaultParallelism

    def pairs_df():
        return dedup.minhash_lsh_pairs(d, shards=shards).select(
            "doc_a", "doc_b"
        )

    stages = {
        "1_minhash_lsh_pairs": pairs_df,
        "2_plus_components": lambda: dedup.connected_components(
            pairs_df(), d.select("doc_id"), max_iterations=10
        ),
        "3_doc_quality_alone": lambda: doc_quality(spark, sf_dir).select(
            "doc_id", "quality_score"
        ),
        "4_full_dedup_keep_best": lambda: dedup.dedup_keep_best(spark, sf_dir),
    }

    # warm the Python-worker pool and codegen paths once
    stages["3_doc_quality_alone"]().write.format("noop").mode("overwrite").save()
    release_persisted()
    spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name, fn in stages.items():
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            release_persisted()
            spark.catalog.clearCache()
        out[name] = {"min": min(runs), "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)

    load1, load5, _ = os.getloadavg()
    print(
        json.dumps(
            {
                "stages": {k: v["min"] for k, v in out.items()},
                "sf_dir": sf_dir,
                "load1": round(load1, 2),
                "load5": round(load5, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
