"""dedup_keep_best survivorship semantics: the kept doc must be the
max-quality member of its cluster (ties -> min doc_id), and the choice must
actually differ from dedup_components' min-id policy somewhere — proving
the operator is a different policy, not a rename."""

from __future__ import annotations

from airflow_postgres_to_s3_pipeline_spark.operators import dedup, text

SF_DIR = "/root/testdata/sf0.001"


def test_kept_doc_is_cluster_argmax_quality(spark):
    best = {
        r.kept_doc_id: (r.kept_quality, r.cluster_size)
        for r in dedup.dedup_keep_best(spark, SF_DIR).collect()
    }
    assert best, "no non-trivial clusters at sf0.001"

    # reconstruct clusters + qualities independently
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(d, shards=4).select("doc_a", "doc_b")
    labels = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            pairs, d.select("doc_id"), max_iterations=10
        ).collect()
    }
    quality = {
        r.doc_id: r.quality_score
        for r in text.doc_quality(spark, SF_DIR).collect()
    }
    clusters: dict[int, list[int]] = {}
    for doc, cl in labels.items():
        clusters.setdefault(cl, []).append(doc)

    expected = {}
    for cl, docs in clusters.items():
        if len(docs) < 2:
            continue
        top = max(quality[doc] for doc in docs)
        keep = min(doc for doc in docs if quality[doc] == top)
        expected[keep] = (top, len(docs))
    assert best == expected


def test_policy_differs_from_min_id_somewhere(spark):
    by_quality = {
        r.kept_doc_id for r in dedup.dedup_keep_best(spark, SF_DIR).collect()
    }
    by_min_id = {
        r.kept_doc_id for r in dedup.dedup_components(spark, SF_DIR).collect()
    }
    assert len(by_quality) == len(by_min_id)  # same clusters
    assert by_quality != by_min_id, (
        "argmax-quality picked the min-id doc in EVERY cluster — the test "
        "data no longer distinguishes the policies"
    )
