"""Dedup operators against planted duplicates (the testdata has its own
near-dups, but planting makes recall assertions deterministic)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the green trees"
)
OTHER = (
    "spark executes distributed dataframe plans with catalyst optimizing "
    "joins aggregations and shuffles across many cluster executor nodes"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)], ["doc_id", "text"]
    )


def test_minhash_lsh_finds_planted_pairs(spark):
    # the md5 double-hash signatures and concat-keyed bands catch both
    # the identical and the near doc; verification is exact Jaccard
    pairs = dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup: jaccard 1.0, must always collide
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all(4 not in p for p in got)  # unrelated doc never pairs


def test_minhash_exact_dup_jaccard_is_one(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5)
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert j[(1, 2)] == 1.0


def test_minhash_md5_tier_matches_planted_pairs(spark):
    # the md5 double-hash tier is the only MinHash tier: its verified
    # pairs carry the exact shingle-set Jaccard, checked here against an
    # independent Python computation for the near pair
    pairs = dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert all(4 not in p for p in got)

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    a, b = shingles(BASE), shingles(NEAR)
    want = len(a & b) / len(a | b)
    near = [j for (x, y), j in got.items() if 3 in (x, y)]
    assert near and all(abs(j - want) < 1e-9 for j in near)


def test_minhash_md5_signature_bit_determinism(spark):
    # pin one signature slot against an independent hashlib computation:
    # h_i(s) = (x1 + i*x2) mod 2^31-1, from two DISJOINT 60-bit md5
    # slices: x1 = hex[0:15] mod p, x2 = hex[15:30] mod (p-1) + 1
    import hashlib

    doc = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    sh = dedup.shingle_arrays(doc)
    sig = dedup.minhash_signatures_md5(sh, n_hashes=4).collect()[0]

    words = BASE.split(" ")
    shingles = list(dict.fromkeys(
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    ))
    p = dedup.MERSENNE_P

    def x1(s):
        return int(hashlib.md5(s.encode()).hexdigest()[0:15], 16) % p

    def x2(s):
        return int(hashlib.md5(s.encode()).hexdigest()[15:30], 16) % (p - 1) + 1

    for i in range(4):
        expected = min((x1(s) + i * x2(s)) % p for s in shingles)
        assert sig[f"h{i}"] == expected, f"slot {i}"


def test_chunk_dedup_finds_planted_passage(spark):
    # two distinct docs sharing one exact passage (same chunk_text), plus a
    # within-doc repeat: the passage groups to one hash with 3 copies
    # across 2 docs, kept at the minimum doc_id; unique chunks drop out
    chunks = spark.createDataFrame(
        [
            (1, 0, "shared boilerplate passage"),
            (1, 1, "unique middle of doc one"),
            (2, 0, "unique start of doc two"),
            (2, 1, "shared boilerplate passage"),
            (2, 2, "shared boilerplate passage"),
        ],
        ["doc_id", "chunk_id", "chunk_text"],
    )
    rows = dedup.chunk_dedup_frame(chunks).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_copies"] == 3 and r["n_docs"] == 2 and r["kept_doc_id"] == 1


def test_chunk_near_dedup_excludes_same_doc_pairs(spark, sf_dir):
    rows = dedup.chunk_near_dedup(spark, sf_dir).collect()
    assert rows, "expected near-dup passages in testdata"
    base = dedup.CHUNK_ID_BASE
    for r in rows:
        assert r["chunk_a"] // base != r["chunk_b"] // base
        assert r["jaccard"] >= 0.6


def test_simhash_near_pairs(spark):
    pairs = dedup.simhash_near_pairs(_docs(spark), max_hamming=10)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    hamming = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert hamming[(1, 2)] == 0  # identical text -> identical simhash
    assert all(4 not in p for p in got)


def test_shingle_arrays_row_local(spark):
    sh = dedup.shingle_arrays(spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"]))
    got = sh.collect()[0]["shingles"]
    assert sorted(got) == ["a b c", "b c d"]


def test_dedup_exact_collapses_copies(spark, sf_dir):
    out = dedup.dedup_exact(spark, sf_dir)
    total_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # groups sum back to total; each group keeps its min doc_id
    agg = out.agg(F.sum("n_copies").alias("s")).collect()[0]["s"]
    assert agg == total_docs


def test_connected_components_unconverged_raises(spark):
    """A chain longer than the iteration budget must NOT silently
    under-merge: default behavior raises, warn-mode returns partial labels
    with a RuntimeWarning."""
    import warnings

    import pytest

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 path graph
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in range(13)], ["doc_id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, nodes, max_iterations=2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = dedup.connected_components(
            pairs, nodes, max_iterations=2, on_unconverged="warn"
        )
        labels.collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_connected_components_converged_within_budget(spark):
    """A chain whose diameter fits the budget converges: every node lands
    in one cluster labeled by the min doc_id, with no warning/raise."""
    chain = [(i, i + 1) for i in range(5)]
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    labels = dedup.connected_components(pairs, nodes, max_iterations=6)
    assert {r["cluster_id"] for r in labels.collect()} == {0}


def test_incremental_minhash_is_cross_set_only(spark, sf_dir):
    # every emitted pair must straddle the corpus/batch boundary: an
    # existing doc on the left, an incoming doc on the right — the banded
    # join must never generate within-set pairs
    rows = dedup.dedup_incremental_minhash(spark, sf_dir).collect()
    assert all(r.ex_id < dedup.INCR_SPLIT <= r.in_id for r in rows)
    assert all(r.jaccard >= 0.6 for r in rows)


def test_lsh_recall_eval_counts_consistent(spark, sf_dir):
    """The eval's three counts must be internally consistent, and n_hit —
    truth ∩ candidates — must equal minhash_lsh_dedup's final output size
    (the verify stage applies the same exact-Jaccard filter to the same
    candidate set)."""
    row = dedup.lsh_recall_eval(spark, sf_dir).collect()[0]
    assert row.n_hit <= min(row.n_truth, row.n_cand)
    assert 0.0 <= row.recall <= 1.0
    assert 0.0 <= row.band_precision <= 1.0
    assert row.n_truth > 0  # testdata plants near-dup docs
    verified = dedup.minhash_lsh_dedup(spark, sf_dir).count()
    assert row.n_hit == verified


def test_lsh_recall_eval_detects_banding_misses(spark, sf_dir):
    """With a deliberately recall-hostile config (2 bands x 16 rows — a
    pair must agree on 16 consecutive MinHash slots to collide), recall
    must not exceed the production 8x4 config's, and the truth set size
    must be config-independent."""
    good = dedup.lsh_recall_eval(spark, sf_dir, n_hashes=32, bands=8).collect()[0]
    hard = dedup.lsh_recall_eval(spark, sf_dir, n_hashes=32, bands=2).collect()[0]
    assert hard.n_truth == good.n_truth
    assert hard.n_cand <= good.n_cand
    assert hard.recall <= good.recall


def test_lsh_band_sweep_monotone_tradeoff(spark, sf_dir):
    """More bands of fewer rows can only ADD candidate pairs (a pair
    colliding on a 2r-row band also collides on both r-row halves... the
    converse is false), so n_cand and recall are non-decreasing in the
    band count while the truth set stays fixed."""
    rows = sorted(
        dedup.lsh_band_sweep(spark, sf_dir).collect(), key=lambda r: r.bands
    )
    assert [r.bands for r in rows] == sorted(dedup.BAND_SWEEP_GRID)
    assert len({r.n_truth for r in rows}) == 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_cand <= hi.n_cand
        assert lo.recall <= hi.recall
        assert hi.rows_per_band == 32 // hi.bands


def test_corpus_dedup_report_membership_accounting(spark, sf_dir):
    """Per-source dup counts must be a distinct-union accounting: n_dup
    bounded by max/sum of the tiers and by n_docs, and the near column
    must total exactly the distinct membership of the verified pair set."""
    rows = dedup.corpus_dedup_report(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert max(r.n_exact_dup_docs, r.n_near_dup_docs) <= r.n_dup_docs
        assert r.n_dup_docs <= r.n_exact_dup_docs + r.n_near_dup_docs
        assert r.n_dup_docs <= r.n_docs
        assert abs(r.dup_rate - r.n_dup_docs / r.n_docs) < 1e-12
    pairs = dedup.minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    member = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .count()
    )
    assert sum(r.n_near_dup_docs for r in rows) == member


def test_eval_gates_report_zeros_on_clean_corpus(spark, tmp_path):
    """On a corpus with NO near-dup pairs, the acceptance gates must
    report explicit zeros — one row with 0-counts (recall NULL) from
    lsh_recall_eval, and one all-zero row PER config from lsh_band_sweep
    — never NULL counts or silently missing config rows."""
    rows = [
        (0, "aa bb cc dd ee", "en", "s0", 14),
        (1, "ff gg hh ii jj", "en", "s0", 14),
        (2, "kk ll mm nn oo", "de", "s1", 14),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    r = dedup.lsh_recall_eval(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert (r[0].n_truth, r[0].n_cand, r[0].n_hit) == (0, 0, 0)
    assert r[0].recall is None and r[0].band_precision is None

    sweep = sorted(
        dedup.lsh_band_sweep(spark, str(tmp_path)).collect(),
        key=lambda x: x.bands,
    )
    assert [x.bands for x in sweep] == sorted(dedup.BAND_SWEEP_GRID)
    for x in sweep:
        assert (x.n_truth, x.n_cand, x.n_hit) == (0, 0, 0)
        assert x.recall is None and x.band_precision is None


def test_lsh_bucket_cap_drops_hub_keeps_true_pairs(spark):
    """Hub buckets (one band key shared by Θ(n) docs — boilerplate
    corpora, or the measured small-universe KM-hash hub, see
    LSH_MAX_BUCKET) must be dropped by the cap while ordinary near-dup
    pairs in small buckets survive.  30 identical docs form an over-cap
    bucket in EVERY band (C(30,2)=435 uncapped candidate pairs); two
    docs differing in one trailing word pair through their own size-2
    buckets either way."""
    hub_text = " ".join(["spark shuffle partition skew salt"] * 6)
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu one "
            "two three")
    rows = [(i, hub_text) for i in range(30)]
    rows.append((100, base + " four"))
    rows.append((101, base + " five"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures_md5(dedup.shingle_arrays(df))
    unc = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig, max_bucket=0).collect()
    }
    cap = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig, max_bucket=10).collect()
    }
    hub_pairs = {p for p in unc if p[0] < 30 and p[1] < 30}
    assert len(hub_pairs) == 435
    assert (100, 101) in unc
    assert (100, 101) in cap
    assert not (cap & hub_pairs)


def test_lsh_band_cand_sql_zero_cap_means_disabled():
    """max_bucket=0 must mean cap DISABLED in the SQL builder exactly as
    in lsh_candidate_pairs — never QUALIFY <= 0 (which would silently
    drop every candidate in any oracle built to mirror an uncapped
    run)."""
    capped = dedup._lsh_band_cand_sql(max_bucket=dedup.LSH_MAX_BUCKET)
    uncapped = dedup._lsh_band_cand_sql(max_bucket=0)
    assert f"<= {dedup.LSH_MAX_BUCKET}" in capped
    assert "QUALIFY" not in uncapped


def test_eval_doc_sample_cap_binds_and_is_deterministic(spark, sf_dir):
    """The eval-scale guard must live in CODE (r9 verdict task 2): on a
    corpus larger than eval_max_docs the deterministic doc-hash sample
    must actually shrink the frame (to ~cap expected docs), pick the SAME
    documents on every evaluation, and pass everything through when the
    cap is disabled or not reached."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    total = d.count()
    assert total > 50  # the corpus genuinely oversizes the cap below

    ids1 = {r.doc_id for r in
            dedup._eval_doc_sample(d, eval_max_docs=50).select("doc_id").collect()}
    ids2 = {r.doc_id for r in
            dedup._eval_doc_sample(d, eval_max_docs=50).select("doc_id").collect()}
    assert ids1 == ids2                      # deterministic
    assert 0 < len(ids1) < total             # the cap BINDS
    assert len(ids1) <= 3 * 50               # ~50 expected, generous bound

    # disabled (falsy) and not-reached caps both pass the corpus through
    assert dedup._eval_doc_sample(d, eval_max_docs=0).count() == total
    assert dedup._eval_doc_sample(d, eval_max_docs=10 * total).count() == total


def test_lsh_recall_eval_binding_cap_matches_oracle(spark, sf_dir):
    """At a cap that BINDS (50 of 500 docs), the Spark eval and its
    DuckDB oracle must still agree exactly — the sample filter is part of
    the md5-derived chain, not a Spark-only shortcut."""
    import duckdb

    got = dedup.lsh_recall_eval(spark, sf_dir, eval_max_docs=50).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = con.sql(dedup._lsh_recall_eval_oracle(eval_max_docs=50)).fetchall()
    assert len(got) == len(want) == 1
    assert (got[0].n_truth, got[0].n_cand, got[0].n_hit) == want[0][:3]


def test_simhash_chunk_cap_drops_hub_keeps_true_pairs(spark):
    """SimHash twin of the LSH hub-bucket cap (r9 verdict task 7): 30
    identical docs share ALL four 15-bit chunks — C(30,2)=435 uncapped
    candidate pairs through over-cap buckets — while two near docs pair
    through their own size-2 chunk buckets either way."""
    hub_text = " ".join(["spark shuffle partition skew salt"] * 6)
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu one "
            "two three")
    rows = [(i, hub_text) for i in range(30)]
    rows.append((100, base + " four"))
    rows.append((101, base + " five"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unc = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_pairs(
            df, max_hamming=10, max_bucket=0
        ).collect()
    }
    cap = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_pairs(
            df, max_hamming=10, max_bucket=10
        ).collect()
    }
    hub_pairs = {p for p in unc if p[0] < 30 and p[1] < 30}
    assert len(hub_pairs) == 435
    assert (100, 101) in unc
    assert (100, 101) in cap
    assert not (cap & hub_pairs)


def test_simhash_binding_cap_matches_oracle(spark, tmp_path):
    """Capped-path parity: with a max_bucket that BINDS, the Spark chunk
    cap and the oracle's QUALIFY mirror must drop the same buckets."""
    import duckdb

    hub_text = " ".join(["spark shuffle partition skew salt"] * 6)
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu one "
            "two three")
    rows = [(i, hub_text) for i in range(30)]
    rows.append((100, base + " four"))
    rows.append((101, base + " five"))
    d = str(tmp_path / "hub")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(f"{d}/documents.parquet")

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_pairs(
            df, max_hamming=10, max_bucket=10
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(
            dedup._simhash_oracle(max_hamming=10, max_bucket=10)
        ).fetchall()
    )
    assert got == want


def test_simhash_oracle_zero_cap_means_disabled():
    """max_bucket=0 must mean cap DISABLED in the simhash oracle builder
    exactly as in simhash_near_pairs — never QUALIFY <= 0."""
    capped = dedup._simhash_oracle(max_bucket=dedup.LSH_MAX_BUCKET)
    uncapped = dedup._simhash_oracle(max_bucket=0)
    assert f"<= {dedup.LSH_MAX_BUCKET}" in capped
    assert "QUALIFY" not in uncapped


def _ngram_hub_corpus(spark, tmp_path):
    """30 verbatim copies of one boilerplate doc (every shingle's posting
    = 30) plus a distinct near-dup pair whose postings are all size <= 2;
    returns the on-disk dir ngram_jaccard_pairs reads."""
    hub_text = " ".join(["click here to subscribe now"] * 4)
    rows = [(i, hub_text, "en") for i in range(30)]
    rows.append((100, BASE, "en"))
    rows.append((101, BASE, "en"))
    d = str(tmp_path / "ngram_hub")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{d}/documents.parquet")
    return d


def test_ngram_df_cap_drops_hub_keeps_true_pairs(spark, tmp_path):
    """The exact posting join's twin of the LSH/SimHash hub caps: 30
    verbatim boilerplate docs make every one of their shingle postings 30
    docs long — C(30,2)=435 output pairs and a quadratic intersection
    stage uncapped — while the true pair's postings are size 2 and must
    survive the cap with jaccard 1.0 (the cap is symmetric: both the
    numerator and the set sizes drop over-cap shingles)."""
    d = _ngram_hub_corpus(spark, tmp_path)
    unc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, d, max_posting=0).collect()
    }
    cap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, d, max_posting=10).collect()
    }
    hub_pairs = {p for p in unc if p[0] < 30 and p[1] < 30}
    assert len(hub_pairs) == 435
    assert unc[(100, 101)] == 1.0
    assert cap[(100, 101)] == 1.0
    assert not (set(cap) & hub_pairs)


def test_ngram_binding_cap_matches_oracle(spark, tmp_path):
    """Capped-path parity: with a max_posting that BINDS, the Spark window
    cap and the oracle's QUALIFY mirror must drop the same postings and
    agree on every surviving pair's jaccard."""
    import duckdb

    d = _ngram_hub_corpus(spark, tmp_path)
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, d, max_posting=10).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(dedup._ngram_jaccard_oracle(max_posting=10)).fetchall()
    )
    assert got == want
    assert len(got) > 0  # the surviving true pair, never vacuous


def test_ngram_oracle_zero_cap_means_disabled():
    """max_posting=0 must mean cap DISABLED in the ngram oracle builder
    exactly as in ngram_jaccard_pairs — never QUALIFY <= 0."""
    capped = dedup._ngram_jaccard_oracle()
    uncapped = dedup._ngram_jaccard_oracle(max_posting=0)
    assert f"<= {dedup.NGRAM_DF_CAP}" in capped
    assert "QUALIFY" not in uncapped


def test_substring_dup_spans_planted_and_split(spark, tmp_path):
    """A shared 20-token run is ONE maximal span with exact start/len; a
    single mid-span token edit splits it into two halves that must clear
    SPAN_MIN_TOKENS independently (here: one does, one does not)."""
    words = [f"w{i}" for i in range(40)]          # doc 0: tokens w0..w39
    shared = words[5:25]                          # 20-token run
    doc1 = ["x0", "x1", "x2"] + shared + ["y0"]   # run at pos 3
    edited = list(shared)
    edited[15] = "EDIT"                           # 15 + 5 = 12-token left half
    doc2 = edited + ["z0", "z1"]
    other = [f"q{i}" for i in range(30)]
    spark.createDataFrame(
        [
            (0, " ".join(words)),
            (1, " ".join(doc1)),
            (2, " ".join(doc2)),
            (3, " ".join(other)),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        (r["doc_a"], r["doc_b"]): (r["start_a"], r["start_b"], r["span_tokens"])
        for r in dedup.substring_dup_spans(spark, str(tmp_path)).collect()
    }
    # doc0 x doc1: one maximal 20-token span, starts (5, 3)
    assert rows[(0, 1)] == (5, 3, 20)
    # doc0 x doc2: the edit at shared-index 15 leaves a 15-token left half
    # (>= 12, reported) and a 4-token right half (< K, no anchors at all)
    assert rows[(0, 2)] == (5, 0, 15)
    # doc1 x doc2 mirrors the same split at doc1's offset
    assert rows[(1, 2)] == (3, 0, 15)
    # the unrelated doc shares nothing
    assert not any(3 in k for k in rows)
    assert len(rows) == 3


def test_substring_dup_anchor_rows_unique_without_distinct(spark, tmp_path):
    """r14 pins the dropped anchor ``.distinct()``: anchor rows are unique
    BY CONSTRUCTION (one ``capped`` row per (doc_id, pos), gh a function
    of (doc_id, pos)), so removing the exchange must not change results
    even in the dangerous case — the SAME passage repeated twice inside
    one document (two capped rows sharing every gram hash).  A duplicate
    anchor would inflate the island's COUNT(*) and lengthen
    span_tokens."""
    shared = [f"s{i}" for i in range(15)]          # 15-token shared run
    doc_a = ["a0", "a1"] + shared + ["m0"] + shared  # run at pos 2 AND 18
    doc_b = shared + ["t0", "t1"]                    # run at pos 0
    spark.createDataFrame(
        [(0, " ".join(doc_a)), (1, " ".join(doc_b))],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in dedup.substring_dup_spans(spark, str(tmp_path)).collect()
    )
    # two distinct diagonals, one exact 15-token span each; any duplicated
    # anchor row would report span_tokens > 15
    assert rows == [(0, 1, 2, 0, 15), (0, 1, 18, 0, 15)]


def test_substring_dup_trim_merges_overlapping_intervals(spark, tmp_path):
    """Keep-first policy: the highest doc_id's overlapping removal
    intervals (from THREE different partners at different offsets) must
    union into one merged island; lower ids keep their text."""
    words = [f"w{i}" for i in range(40)]
    doc0 = words                                   # 40 tokens, keeps all
    doc1 = ["x0", "x1", "x2"] + words[5:25] + ["y0"]   # 24 toks, loses [3,23)
    doc4 = ["b0", "b1"] + words[2:32]              # 32 toks; partners give
    # intervals [2,32) (doc0), [5,25) (doc1) -> union = [2,32), 30 dup
    spark.createDataFrame(
        [(0, " ".join(doc0)), (1, " ".join(doc1)), (4, " ".join(doc4))],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: (
            r["n_tokens"], r["n_dup_spans"], r["n_dup_tokens"],
            r["n_kept_tokens"],
        )
        for r in dedup.substring_dup_trim(spark, str(tmp_path)).collect()
    }
    assert rows[0] == (40, 0, 0, 40)        # doc_a everywhere: untouched
    assert rows[1] == (24, 1, 20, 4)        # loses its shared run vs doc0
    assert rows[4] == (32, 1, 30, 2)        # overlapping intervals merged


def test_lsh_candidate_pairs_grouped_matches_selfjoin(spark, sf_dir):
    """The r13 bucket-collapse pair expansion (capped path: collect_list
    + size filter + HOF C(b,2) expansion) must emit exactly the self-join
    reference's pair multiset when the cap does not bind — the two paths
    share semantics by construction and this pins it on real data."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_md5(dedup.shingle_arrays(d))
    grouped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig).collect()
    }
    selfjoin = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig, max_bucket=0).collect()
    }
    assert grouped == selfjoin
    assert grouped  # non-vacuous: the corpus plants near-dups


def test_minhash_signatures_np_matches_expr(spark, sf_dir):
    """The numpy MinHash kernel (mapInPandas, r13 optimization) must be
    BIT-identical to the expression tier on real data: both derive every
    slot as (x1 + i*x2) mod p from the same md5 hex slices, all integer
    arithmetic, so any divergence is a kernel bug, not rounding."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    sh = dedup.shingle_arrays(d).persist()
    got = {r["doc_id"]: tuple(r)[1:] for r in
           dedup.minhash_signatures_md5(sh, 8).collect()}
    want = {r["doc_id"]: tuple(r)[1:] for r in
            dedup.minhash_signatures_md5_expr(sh, 8).collect()}
    sh.unpersist()
    assert got == want
    assert got  # non-vacuous


def test_minhash_signatures_np_rejects_empty_arrays(spark):
    """An empty shingle array would silently diverge from the expression
    tier (NULL slots); the kernel raises instead."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ["a b c"]), (2, [])],
        "doc_id long, shingles array<string>",
    )
    with pytest.raises(Exception, match="empty shingle array"):
        dedup.minhash_signatures_md5(df, 4).collect()


def test_simhash_signatures_np_matches_expr(spark, sf_dir):
    """The numpy SimHash kernel must be bit-identical to the expression
    tier on real data (same tokenization, same 60-bit md5 prefix, same
    vote threshold), including dropping zero-token docs."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_signatures_md5(d).collect()}
    want = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures_md5_expr(d).collect()}
    assert got == want
    assert got


def test_simhash_signatures_np_drops_zero_token_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dedup.simhash_signatures_md5(df).collect()}
    want = {r["doc_id"] for r in dedup.simhash_signatures_md5_expr(df).collect()}
    assert got == want == {1}


def test_simhash_grouped_cand_matches_selfjoin(spark, sf_dir):
    """Same parity pin for the SimHash chunk buckets: the capped
    bucket-collapse path and the uncapped self-join fallback must agree
    pair-for-pair (including the carried signatures, via hamming)."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    grouped = {
        tuple(r)
        for r in dedup.simhash_near_pairs(d, max_hamming=10).collect()
    }
    selfjoin = {
        tuple(r)
        for r in dedup.simhash_near_pairs(
            d, max_hamming=10, max_bucket=0
        ).collect()
    }
    assert grouped == selfjoin
    assert grouped


_DEGENERATE_FRAMES = {
    "empty": [],
    "one_row": [(1, BASE)],
    "degenerate_texts": [
        (1, None), (2, ""), (3, "   "), (4, "alpha"), (5, "alpha beta"),
    ],
}


@pytest.mark.parametrize("frame", sorted(_DEGENERATE_FRAMES))
@pytest.mark.parametrize(
    "near_pairs", [dedup.minhash_lsh_pairs, dedup.simhash_near_pairs],
    ids=["minhash", "simhash"],
)
def test_near_pairs_degenerate_inputs_yield_no_pairs(spark, frame, near_pairs):
    """Empty and one-row corpora, and NULL / empty / whitespace-only /
    one- and two-word texts (too short to shingle, or with no token to
    sign), run both md5 near-dup chains to zero pairs without a
    Python-worker error."""
    df = spark.createDataFrame(
        _DEGENERATE_FRAMES[frame], "doc_id long, text string"
    )
    assert near_pairs(df).collect() == []
