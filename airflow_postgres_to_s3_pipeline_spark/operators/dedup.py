"""Deduplication operators for LLM-data pipelines (SURVEY.md §2B E24-E25).

Exact dedup is a hash group-by (one shuffle on the dedup key — at 100 TB,
hash the text first so the shuffle key is 16 bytes, not the document).
Near-dup detection is MinHash+LSH / SimHash: banding turns the quadratic
all-pairs problem into an equi-join on band buckets, which Spark executes
as an ordinary shuffle join — the scalable path.  Exact-verification of the
candidate pairs happens only on the (tiny) candidate set.

All functions take DataFrames (not table names) so tests can plant known
duplicates; the __spark_entry__ wrappers bind them to the ``documents``
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist
from airflow_postgres_to_s3_pipeline_spark.catalog import table

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


# ---------------------------------------------------------------------------
# E24: exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: keep min doc_id per text, report copy count.

    Grouping on md5(text) (16-byte key) instead of the raw document keeps
    the 100 TB shuffle narrow; the md5 also serves as the content
    fingerprint downstream.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_oracle(
    "dedup_exact",
    """
    SELECT md5(text) AS text_md5,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-ON semantics: full surviving row (lowest doc_id) per text."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy(F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


_oracle(
    "dedup_keep_first",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# E25: MinHash + LSH near-dedup (composition of built-in DataFrame ops)
# ---------------------------------------------------------------------------

def spread_input(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism ONLY when the input is narrower —
    the single-file one-task trap: a corpus parquet under
    maxPartitionBytes arrives as ONE partition, and every row-local HOF
    below (shingling, gram explode, signature kernels) then runs on a
    single core (measured r14: 6.6s of ngram_jaccard_pairs' 8.0s was the
    single-task explode; embedding_near_dup measured the same class of
    miss at 10x).  Conditional, so a pre-split real corpus — the 100 TB
    arrival shape — skips the shuffle entirely: this is local-bench-only
    parallelism, never an unconditional production exchange.  The
    ``df.rdd.getNumPartitions()`` probe forces one physical-planning pass,
    so call it once per query construction, never inside an iteration
    loop (ADVICE r9).  Shared: ``similarity._spread`` delegates here."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def shingle_arrays(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document as an array column — entirely
    row-local (no explode, no shuffle): at 100 TB the whole shingling +
    signature stage runs in the map phase of the scan.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), n - F.lit(k))
    shingles = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(words, (i + F.lit(j) + F.lit(1)).cast("int"))
                    for j in range(k)
                ],
            ),
        )
    )
    return df.filter(n >= k).select(
        F.col(id_col).alias("doc_id"), shingles.alias("shingles")
    )


def shingle(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            k: int = 3) -> DataFrame:
    """Exploded (doc_id, shingle) rows — only for set-join style consumers
    (ngram_jaccard_pairs); prefer ``shingle_arrays`` for row-local work."""
    return shingle_arrays(df, text_col, id_col, k).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


MERSENNE_P = 2147483647  # 2^31 - 1; the MinHash value space


def minhash_signatures_md5(shingles: DataFrame, n_hashes: int = 32) -> DataFrame:
    """MinHash signatures derived from ONE md5 per shingle, as one
    vectorized mapInPandas pass: per shingle, the (x1, x2)
    Kirsch-Mitzenmacher pair of ``minhash_signatures_md5_expr`` (md5 hex
    slices 1-15 / 16-30 -> int64 mod p / mod p-1 + 1), then all
    ``n_hashes`` slot minima with segment-min (``np.minimum.reduceat``)
    instead of 32 interpreted array transforms.

    Integer-exact (hashlib md5 == Spark md5 == DuckDB md5; int64
    add/mul/mod have no rounding), so BIT-identical to the expression
    reference and to the SQL oracles — pinned by
    tests/test_dedup.py::test_minhash_signatures_np_matches_expr.
    Measured at sf0.1: the signature pass over warm shingles dropped
    ~1.0s -> ~0.2s against the expression formulation.

    The per-slot candidate values are bounded by x1 + 31*x2 < 2^36, far
    inside int64 — no overflow; ``%`` on non-negative int64 matches
    Spark's ``pmod``-free ``%`` (both operands non-negative here).
    Input rows always carry >= 1 shingle (``shingle_arrays`` filters
    n >= k); an empty array would make the expression tier emit NULLs,
    which this kernel has no row to mirror — guarded with an explicit
    error rather than a silent drop.
    """
    out_schema = "doc_id long, " + ", ".join(
        f"h{i} long" for i in range(n_hashes)
    )
    p = MERSENNE_P

    def sign(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {c: pd.Series(dtype="int64")
                     for c in ["doc_id"] + [f"h{i}" for i in range(n_hashes)]}
                )
                continue
            lists = pdf["shingles"].tolist()
            lens = np.fromiter(
                (len(sl) for sl in lists), dtype=np.int64, count=len(lists)
            )
            if (lens == 0).any():
                raise ValueError(
                    "minhash_signatures_md5: empty shingle array "
                    "(callers must filter n_words >= k, as shingle_arrays "
                    "does)"
                )
            total = int(lens.sum())
            x1 = np.empty(total, dtype=np.int64)
            x2 = np.empty(total, dtype=np.int64)
            pos = 0
            for sl in lists:
                for s in sl:
                    h = md5(s.encode("utf-8")).hexdigest()
                    x1[pos] = int(h[:15], 16)
                    x2[pos] = int(h[15:30], 16)
                    pos += 1
            x1 %= p
            x2 %= p - 1
            x2 += 1
            offsets = np.zeros(len(lists), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for i in range(n_hashes):
                out[f"h{i}"] = np.minimum.reduceat(
                    (x1 + i * x2) % p, offsets
                )
            yield pd.DataFrame(out)

    return shingles.select("doc_id", "shingles").mapInPandas(
        sign, out_schema
    )


def minhash_signatures_md5_expr(shingles: DataFrame,
                                n_hashes: int = 32) -> DataFrame:
    """The md5 MinHash tier as pure Spark SQL expressions — the reference
    formulation whose arithmetic the SQL oracles mirror line-by-line (and
    the parity pin for the numpy kernel above).

    Kirsch-Mitzenmacher double hashing: take two DISJOINT 60-bit slices of
    the md5 (hex chars 1-15 and 16-30), derive x1 = a mod p and
    x2 = b mod (p-1) + 1, and build slot i as ``h_i = (x1 + i*x2) mod p``
    with p = 2^31-1.  Independent slices give x1 and x2 the full
    independence the KM analysis assumes (ADVICE r5: the earlier
    top-bits-of-x1 derivation shared md5 bits 29-59 between the pair — a
    weaker family with a real LSH recall bias); both spans cover the full
    [0, p) / [1, p-1] ranges.  Every step (md5, hex→bigint, modular
    arithmetic, array min) is bit-identical in any engine with md5 +
    64-bit integers, so the full signature→band→candidate→Jaccard chain
    carries an exact SQL oracle.  Still entirely row-local (zero
    shuffles), one md5 + two hex→bigint conversions per shingle (the
    per-slot work is two adds and a mod over a 2-field struct array; the
    second conv showed no whole-query regression at sf0.1 — minhash_lsh_dedup
    1.97s->1.90s warm, dedup_components 2.86s->2.59s, see docs/SCALE.md).
    """
    p = F.lit(MERSENNE_P).cast("long")
    # Two-stage select so each md5 runs once per shingle, not once per
    # (shingle, slot): the first projection materializes one md5 hex
    # string per shingle, the second splits it into the (x1, x2)
    # double-hashing pair from disjoint 60-bit slices.
    md5s = shingles.select(
        "doc_id",
        F.transform(
            F.col("shingles"),
            lambda s: F.md5(s.cast("binary")),
        ).alias("ms"),
    )
    hx = md5s.select(
        "doc_id",
        F.transform(
            F.col("ms"),
            lambda m: F.struct(
                (
                    F.conv(F.substring(m, 1, 15), 16, 10).cast("long") % p
                ).alias("x1"),
                (
                    F.conv(F.substring(m, 16, 15), 16, 10).cast("long")
                    % (p - F.lit(1).cast("long"))
                    + F.lit(1).cast("long")
                ).alias("x2"),
            ),
        ).alias("hx"),
    )
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("hx"),
                lambda h: (h["x1"] + F.lit(i).cast("long") * h["x2"]) % p,
            )
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return hx.select("doc_id", *sig_cols)


def banded_keys(signatures: DataFrame, n_hashes: int = 32,
                bands: int = 8) -> DataFrame:
    """Explode a signature frame into (doc_id, band, band_hash) rows — the
    shared banding step of the self-join (``lsh_candidate_pairs``) and
    cross-set (``dedup_incremental_minhash``) LSH paths.  The band key is
    the band's signature values joined by ``|``, which the SQL oracles
    mirror exactly."""
    rows = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(band_structs).alias("bh")
    ).select(
        "doc_id",
        F.col("bh.band").alias("band"),
        F.col("bh.band_hash").alias("band_hash"),
    )


LSH_MAX_BUCKET = 1024
"""Band-bucket size cap applied before the candidate self-join.

Hub buckets make the "~linear" LSH candidate claim false: a band key
shared by b docs emits C(b, 2) pairs, so one Θ(n) bucket turns the whole
stage quadratic.  Hubs are real at scale — boilerplate/empty documents on
real corpora, and (measured, round 9) the Kirsch-Mitzenmacher double hash
on a small shingle universe: one shingle with jointly-small (x1, x2) wins
every slot of a band, so every doc containing it shares that band key.
On the 20-word-vocab smoke corpus at 2M docs the top bucket held 4,560
docs and sum C(b,2) hit 20.6M candidates (~n^2), spilling >60 GB at 5M
docs.  Docs in an over-cap bucket still pair through their other bands;
md5-identical docs (which share ALL bands) are the exact tier's job, not
LSH's.  The measured recall cost of the cap is what ``lsh_recall_eval``
exists to report.  Never binds on the test corpora (max observed bucket
at sf0.1 is 7); the SQL oracles apply the identical QUALIFY cap, so the
hash match is preserved even where it does bind.
"""


def _cap_buckets(banded: DataFrame, max_bucket: int,
                 keys: tuple[str, ...] = ("band", "band_hash")) -> DataFrame:
    """Drop rows of buckets larger than ``max_bucket`` — one window count
    over the same ``keys`` the subsequent join shuffles on, so the cap
    adds no extra exchange of the banded frame.  Shared by the MinHash
    band join (band, band_hash) and the SimHash chunk join
    (chunk_id, chunk) so the cap semantics cannot drift between them."""
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )


def sorted_pairs(arr, make):
    """The C(b,2) pair expansion of an array column, row-local in a HOF:
    ``make(x, y)`` for every element x and every y after it, in order.
    On a sorted array of distinct values this is exactly a self-join's
    ``a < b`` pair set.  Only safe on a size-capped array — an uncapped
    hub's C(b,2) results would materialize inside ONE row in one task."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: make(x, y),
            ),
        )
    )


def _bucket_pair_expansion(banded: DataFrame, group_cols: tuple[str, ...],
                           max_bucket: int,
                           carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """The r13 bucket-collapse pair expansion, single-sourced (r13 ADVICE:
    lsh_band_sweep carried a verbatim copy of lsh_candidate_pairs's capped
    path, so a cap or expansion change could land in one site only): each
    ``group_cols`` bucket collapses to ONE sorted-ids row via collect_list
    (partially aggregated map-side), the hub cap is a plain
    ``size(ids) <= max_bucket`` filter, and the C(b,2) expansion happens
    row-locally in a HOF bounded by the cap.  ``carry_cols`` (a subset of
    ``group_cols``, e.g. lsh_band_sweep's config tag) survive into the
    output next to (doc_a, doc_b); output is distinct over carry + pair.

    Only safe WITH a cap — uncapped, a hub bucket's C(b,2) pair structs
    would materialize inside ONE row in one task; callers keep their
    distributed self-join for the ``max_bucket=0/None`` convention."""
    buckets = banded.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    pairs = sorted_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    return (
        buckets.filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
        )
        .select(*carry_cols, F.explode(pairs).alias("p"))
        .select(
            *carry_cols,
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame, n_hashes: int = 32,
                        bands: int = 8,
                        max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Band the signatures and pair docs sharing a (band, band_hash) bucket.

    The banded bucket collision is the LSH trick that makes near-dedup
    scale: only docs agreeing on a full band collide, so the pair output
    is ~linear in the number of true near-dups rather than quadratic in
    corpus size — PROVIDED no bucket degenerates into a hub, which
    ``max_bucket`` enforces (see ``LSH_MAX_BUCKET`` for the measured
    failure mode).

    Shape (r13 optimization, guide §2.4): each bucket collapses to ONE
    (band, band_hash, sorted ids) row via collect_list (partially
    aggregated map-side, so the exchange moves thin per-bucket rows), the
    hub cap becomes a plain ``size(ids) <= max_bucket`` filter — no
    window, no per-partition sort — and the C(b,2) pair expansion happens
    INSIDE a higher-order function bounded by the cap, never through a
    join.  This is the `_basket_sets` discipline from operators/graph.py
    applied to the LSH band join: measured at sf0.1 (same-session A/B,
    min-of-3, noop sink) window-cap+self-join 0.92s vs this path 0.51s
    for the candidate stage, with the pair multiset identical (parity
    asserted by test).  The HOF expansion is only safe WITH a cap —
    uncapped, a hub bucket's C(b,2) pair structs would materialize inside
    ONE row in one task — so ``max_bucket=0/None`` (the debug/eval
    convention) keeps the distributed reference self-join, exactly like
    ``graph._basket_pair_edges``.
    """
    banded = banded_keys(signatures, n_hashes, bands)
    if not max_bucket:
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    # a doc contributes exactly one row per band, so doc_ids are unique
    # within a bucket and the sorted i<j expansion is exactly the
    # self-join's doc_a < doc_b predicate (parity pinned by test)
    return _bucket_pair_expansion(banded, ("band", "band_hash"), max_bucket)


def jaccard3(n_inter, size_a, size_b):
    """THE shared similarity rule of every exact-Jaccard site (verify
    stage, ngram_jaccard_pairs, the eval ground truths): round to 3
    places, THEN threshold.  Single-sourced so the rounding/tie rule
    cannot silently diverge between the pipeline and its ground truth;
    the SQL mirrors hard-code the same ROUND(x, 3) — change both
    together."""
    return F.round(n_inter / (size_a + size_b - n_inter), 3)


def verify_jaccard(candidates: DataFrame, shingles: DataFrame,
                   threshold: float = 0.6) -> DataFrame:
    """Exact Jaccard on candidate pairs only.

    Joins the (small) candidate set back to the per-doc shingle arrays —
    Spark broadcasts the candidate side under AQE — then computes the
    intersection row-locally with ``array_intersect``: no shuffle of the
    corpus, work proportional to candidates, not documents.
    """
    sa = shingles.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = shingles.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard3(n_inter, F.size("sh_a"), F.size("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 32,
                      bands: int = 8, k: int = 3,
                      threshold: float = 0.6,
                      shards: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band -> verify.

    Signatures come from the md5 double-hashing kernel
    (``minhash_signatures_md5``), so every step has an exact SQL mirror
    (``_minhash_lsh_oracle``).

    Only two shuffles end-to-end regardless of corpus size: the banded
    candidate self-join and the candidate->shingle lookup; everything else
    is map-side.  The shingle/signature stages are persisted because the
    plan consumes them three times (band-join both sides + verify) — without
    it Spark recomputes the CPU-heavy hashing per consumer (measured: an
    unmaterialized shingle HOF inside the fused signature projection
    re-evaluates per signature column, 2× the whole pipeline — the
    known-constraint in docs/ROADMAP.md).  ``shards`` spreads a
    few-files-input across cores (a 100 TB corpus arrives pre-split; a
    single local parquet file does not).

    Persistence hygiene: the persisted intermediates live until the session
    drops them (the result is lazy, so this function cannot unpersist).
    Long-lived sessions running many dedup batches should call
    ``spark.catalog.clearCache()`` between batches.  At 100 TB the shingle
    frame is corpus-sized: persist it to ``StorageLevel.DISK_ONLY`` (or
    checkpoint to reliable storage) rather than memory — the barrier is
    what matters, not the medium.
    """
    if shards:
        df = df.repartition(shards)
    # shingles carry the corpus text as arrays -> corpus-sized cache;
    # signatures are (doc_id, 32 longs) -> thin.  Both registered with the
    # cache tracker so the terminal consumer releases them (cache.py).
    sh = tracked_persist(shingle_arrays(df, text_col, id_col, k), corpus=True)
    sig = tracked_persist(minhash_signatures_md5(sh, n_hashes))
    cand = lsh_candidate_pairs(sig, n_hashes, bands)
    return verify_jaccard(cand, sh, threshold)


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over documents.

    LSH is probabilistic only in *which hash family* you fix up front; for
    a FIXED family the signature→band→candidate→Jaccard chain is fully
    deterministic, so deriving the hashes from md5 (mirrorable in any SQL
    engine) gives the whole pipeline an exact DuckDB oracle — the same
    banding recall/precision trade, none of the unverifiability.
    """
    d = table(spark, sf_dir, "documents")
    shards = spark.sparkContext.defaultParallelism
    return minhash_lsh_pairs(d, shards=shards)


def _lsh_chain_sql(n_hashes: int = 32, bands: int = 8,
                   source: str = "SELECT doc_id, text FROM documents") -> str:
    """Shared CTE chain (``src`` .. ``cand``) mirroring the md5 LSH
    pipeline up to candidate generation: shingle_arrays (list_distinct
    word-3-grams), the md5 double-hash signatures (n_hashes MIN aggregates
    over the exploded shingles), the concat-keyed banding (UNION ALL of one
    SELECT per band), and the banded self-join.  Interpolated into both the
    near-dedup oracles (which verify + threshold the candidates) and the
    recall-eval oracle (which compares them against the exact pair set)."""
    return _lsh_sig_chain_sql(n_hashes, source) + _lsh_band_cand_sql(
        n_hashes, bands
    )


def _lsh_sig_chain_sql(n_hashes: int = 32,
                       source: str = "SELECT doc_id, text FROM documents") -> str:
    """The band-count-independent prefix (``src`` .. ``sigs``) of the LSH
    CTE chain — shared verbatim by every banding config of one corpus."""
    p = MERSENNE_P
    sig_exprs = ",\n               ".join(
        f"MIN((x1 + {i} * x2) % {p}) AS h{i}" for i in range(n_hashes)
    )
    return f"""src AS (
        {source}
    ), w AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM src
        WHERE LEN(string_split(text, ' ')) >= 3
    ), shl AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, LEN(ws) - 2),
                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
               )) AS shingles
        FROM w
    ), sh AS (
        SELECT doc_id, UNNEST(shingles) AS shingle FROM shl
    ), hx0 AS (
        SELECT doc_id, md5(shingle) AS m
        FROM sh
    ), hx AS (
        SELECT doc_id,
               ('0x' || substring(m, 1, 15))::BIGINT % {p} AS x1,
               ('0x' || substring(m, 16, 15))::BIGINT % {p - 1} + 1 AS x2
        FROM hx0
    ), sigs AS (
        SELECT doc_id,
               {sig_exprs}
        FROM hx GROUP BY doc_id
    )"""


def _lsh_band_cand_sql(n_hashes: int = 32, bands: int = 8,
                       suffix: str = "",
                       max_bucket: int = LSH_MAX_BUCKET) -> str:
    """The per-config ``banded``/``cand`` CTEs over a ``sigs`` relation;
    ``suffix`` disambiguates the CTE names when one query sweeps several
    banding configs against the same signatures.  ``max_bucket`` mirrors
    the Spark side's hub-bucket cap (``LSH_MAX_BUCKET``) bit-for-bit via
    the same windowed count, so capped and uncapped corpora alike keep
    the exact hash match — including the boundary convention: 0 (or any
    falsy value) means cap DISABLED, exactly like
    ``lsh_candidate_pairs``'s ``if max_bucket:`` guard, never an
    everything-dropped filter."""
    rows = n_hashes // bands
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + " AS band_key FROM sigs"
        for b in range(bands)
    )
    cap_filter = (
        f"""
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket}"""
        if max_bucket
        else ""
    )
    return f""", banded{suffix} AS (
        {band_selects}
    ), bandedc{suffix} AS (
        SELECT doc_id, band, band_key FROM banded{suffix}{cap_filter}
    ), cand{suffix} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandedc{suffix} a JOIN bandedc{suffix} b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )"""


def _minhash_lsh_oracle(n_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.6,
                        source: str = "SELECT doc_id, text FROM documents") -> str:
    """Generate the exact SQL mirror of ``minhash_lsh_pairs``:
    the shared LSH candidate chain plus exact-Jaccard verification.
    ``source`` is any (doc_id, text) relation, so the same template oracles
    doc-level and chunk-level near-dedup.
    """
    return f"""
    WITH {_lsh_chain_sql(n_hashes, bands, source)}, ver AS (
        SELECT doc_a, doc_b,
               LEN(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
               LEN(sa.shingles) AS size_a,
               LEN(sb.shingles) AS size_b
        FROM cand
        JOIN shl sa ON sa.doc_id = doc_a
        JOIN shl sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter / (size_a + size_b - n_inter), 3) AS jaccard
    FROM ver
    WHERE ROUND(n_inter / (size_a + size_b - n_inter), 3) >= {threshold}
    """


_oracle("minhash_lsh_dedup", _minhash_lsh_oracle())


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus update: admit only incoming docs that duplicate
    nothing in the existing corpus — the batch-over-batch dedup shape every
    growing training corpus runs.

    Split: existing = doc_id < 400, incoming = doc_id >= 400 (stand-ins for
    'corpus so far' and 'today's crawl').  An incoming doc is rejected if
    (a) its exact content hash exists (anti-join on md5 — 16-byte shuffle
    key), or (b) it shares a same-language word-3-gram Jaccard >= 0.5 with
    any existing doc (the exact near-dup check; at scale the MinHash-banded
    variant bounds the candidate space the same way).  Both checks are
    anti-joins — the surviving set is computed without materializing any
    pair list driver-side.
    """
    # spread the single local file before the per-doc shingling below
    # (see spread_input: conditional — local-bench-only parallelism)
    d = spread_input(table(spark, sf_dir, "documents"))
    existing = d.filter(F.col("doc_id") < 400)
    incoming = d.filter(F.col("doc_id") >= 400)

    # (a) exact-content rejection
    ex_hash = existing.select(F.md5(F.col("text").cast("binary")).alias("h")).distinct()
    inc = incoming.withColumn("h", F.md5(F.col("text").cast("binary")))
    survived_exact = inc.join(ex_hash, "h", "left_anti").drop("h")

    # (b) near-dup rejection vs existing (same-lang 3-gram Jaccard >= 0.5)
    sh_ex = shingle(existing, "text", "doc_id", k=3).join(
        existing.select("doc_id", "lang"), "doc_id"
    ).select(F.col("doc_id").alias("ex_id"), "lang", "shingle")
    sh_in = shingle(survived_exact, "text", "doc_id", k=3).join(
        survived_exact.select("doc_id", "lang"), "doc_id"
    ).select(F.col("doc_id").alias("in_id"), "lang", "shingle")
    sizes_ex = sh_ex.groupBy("ex_id").agg(F.count(F.lit(1)).alias("sz_ex"))
    sizes_in = sh_in.groupBy("in_id").agg(F.count(F.lit(1)).alias("sz_in"))
    inter = (
        sh_in.join(sh_ex, ["lang", "shingle"])
        .groupBy("in_id", "ex_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    near_dup_ids = (
        inter.join(sizes_in, "in_id")
        .join(sizes_ex, "ex_id")
        .filter(
            F.col("n_inter") / (F.col("sz_in") + F.col("sz_ex") - F.col("n_inter"))
            >= 0.5
        )
        .select(F.col("in_id").alias("doc_id"))
        .distinct()
    )
    return survived_exact.join(near_dup_ids, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_oracle(
    "dedup_incremental",
    """
    WITH existing AS (
        SELECT * FROM documents WHERE doc_id < 400
    ), incoming AS (
        SELECT * FROM documents WHERE doc_id >= 400
    ), survived_exact AS (
        SELECT i.* FROM incoming i
        WHERE md5(i.text) NOT IN (SELECT md5(text) FROM existing)
    ), sh_ex AS (
        SELECT doc_id AS ex_id, lang,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, LEN(string_split(text, ' ')) - 2),
                   k -> string_split(text, ' ')[k] || ' ' ||
                        string_split(text, ' ')[k + 1] || ' ' ||
                        string_split(text, ' ')[k + 2]))) AS shingle
        FROM existing WHERE LEN(string_split(text, ' ')) >= 3
    ), sh_in AS (
        SELECT doc_id AS in_id, lang,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, LEN(string_split(text, ' ')) - 2),
                   k -> string_split(text, ' ')[k] || ' ' ||
                        string_split(text, ' ')[k + 1] || ' ' ||
                        string_split(text, ' ')[k + 2]))) AS shingle
        FROM survived_exact WHERE LEN(string_split(text, ' ')) >= 3
    ), sizes_ex AS (
        SELECT ex_id, COUNT(*) AS sz_ex FROM sh_ex GROUP BY ex_id
    ), sizes_in AS (
        SELECT in_id, COUNT(*) AS sz_in FROM sh_in GROUP BY in_id
    ), inter AS (
        SELECT in_id, ex_id, COUNT(*) AS n_inter
        FROM sh_in JOIN sh_ex USING (lang, shingle)
        GROUP BY in_id, ex_id
    ), near_dup AS (
        SELECT DISTINCT in_id AS doc_id
        FROM inter JOIN sizes_in USING (in_id) JOIN sizes_ex USING (ex_id)
        WHERE n_inter / CAST(sz_in + sz_ex - n_inter AS DOUBLE) >= 0.5
    )
    SELECT doc_id, lang, source, n_chars
    FROM survived_exact
    WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
    """,
)


INCR_SPLIT = 400  # doc_id boundary: existing corpus vs incoming batch


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str,
                              split: int = INCR_SPLIT,
                              threshold: float = 0.6) -> DataFrame:
    """Incremental near-dedup on the MinHash-banded index — the SCALE
    tier of ``dedup_incremental``'s exact cross-set Jaccard.

    A growing training corpus admits a new crawl batch daily; comparing
    incoming docs against the full existing corpus exactly is
    O(incoming x existing).  The production shape is this one: band BOTH
    sides' MinHash signatures and equi-join incoming buckets against
    existing buckets ONLY (no existing-existing or incoming-incoming
    pairs are ever generated), then verify exact Jaccard on the candidate
    set.  At 100 TB the existing side's signatures are a persisted index
    (16 bytes x n_hashes per doc) that each day's batch joins against —
    the corpus text is never re-read.

    Returns the rejection evidence: (ex_id, in_id, jaccard) for every
    incoming doc colliding with an existing doc at >= threshold.  The md5
    signature tier makes the whole chain carry an exact SQL oracle — the
    oracle runs the full self-join template and keeps only cross-set
    pairs, which is pair-for-pair identical because banding and
    verification are per-pair deterministic.
    """
    # spread the single local file before shingling (see spread_input:
    # conditional — local-bench-only parallelism)
    d = spread_input(table(spark, sf_dir, "documents"))
    sh = tracked_persist(shingle_arrays(d), corpus=True)
    sig = minhash_signatures_md5(sh)
    # The cap is computed over the UNION frame (existing + incoming), same
    # as the oracle's self-join chain — a hub bucket is a hub regardless
    # of which side its members arrive on.
    banded = tracked_persist(
        _cap_buckets(banded_keys(sig), LSH_MAX_BUCKET)
    )
    ex = banded.filter(F.col("doc_id") < split)
    inc = banded.filter(F.col("doc_id") >= split)
    cand = (
        ex.alias("a")
        .join(
            inc.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return verify_jaccard(cand, sh, threshold).select(
        F.col("doc_a").alias("ex_id"),
        F.col("doc_b").alias("in_id"),
        "jaccard",
    )


def _dedup_incremental_minhash_oracle() -> str:
    inner = _minhash_lsh_oracle()
    return f"""
    SELECT doc_a AS ex_id, doc_b AS in_id, jaccard
    FROM ({inner})
    WHERE doc_a < {INCR_SPLIT} AND doc_b >= {INCR_SPLIT}
    """


_oracle("dedup_incremental_minhash", _dedup_incremental_minhash_oracle())


# ---------------------------------------------------------------------------
# E25a': near-dup clusters — connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, node_ids: DataFrame,
                         max_iterations: int = 6,
                         on_unconverged: str = "raise",
                         include_singletons: bool = True) -> DataFrame:
    """Cluster ids via min-label propagation over an undirected pair graph.

    Each iteration joins every node's current label with its neighbors' and
    keeps the minimum — after d propagation steps every node holds the
    minimum id within distance d.  The initial labels are pre-seeded at
    depth 1 (min of self and direct neighbors, computed on the edge
    build's own exchange), so components of diameter <=
    max_iterations + 1 converge (near-dup clusters are shallow; 6 hops
    covers them).  Per iteration: one shuffle join on node id + one
    groupBy min.  Labels stay DataFrames — no driver materialization,
    the loop shape runs unchanged at 100 TB.

    If labels are still changing after ``max_iterations`` (a component with
    diameter > max_iterations, e.g. a long duplicate chain), the result
    would silently under-merge — ``on_unconverged`` controls the reaction:
    ``"raise"`` (default) raises RuntimeError, ``"warn"`` emits a warning
    and returns the partial labels, ``"ignore"`` returns them silently.

    pairs: (doc_a, doc_b) edges; node_ids: (doc_id) universe.  Returns
    (doc_id, cluster_id) where cluster_id is the component's min doc_id.

    ``include_singletons=False`` returns ONLY the edge-connected labels
    (r14): every cluster of size > 1 consists entirely of edge endpoints,
    so consumers that end in a ``cluster_size > 1`` filter
    (dedup_components, dedup_keep_best) get identical results while
    skipping the corpus-sized singleton anti-join + union and shrinking
    every downstream aggregate/join from |corpus| to |edge nodes| rows —
    at LLM-dedup scale the duplicated population is orders of magnitude
    smaller than the corpus.  ``node_ids`` is ignored in that mode.
    """
    if on_unconverged not in ("raise", "warn", "ignore"):
        raise ValueError(f"on_unconverged must be raise/warn/ignore, got {on_unconverged!r}")
    # The edge list feeds every iteration — persist it so the (possibly
    # expensive) pair-generation pipeline upstream runs exactly once, and
    # hash-partition it on ``dst`` (each iteration's join key) so every
    # iteration's neighbor join reuses that partitioning and only the thin
    # label frame moves (the loop-invariant discipline of graph.bfs_hops /
    # pagerank_parts — without it the distinct's (src, dst) partitioning
    # forces a full edge re-shuffle per iteration; guide §2.4).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .repartition("dst")
    )
    edges = tracked_persist(edges)
    # The loop only ever RELABELS nodes that touch an edge — a node with
    # no pair keeps cluster_id = doc_id by construction — so the label
    # frame is restricted to edge endpoints (the duplicated population,
    # typically orders of magnitude smaller than the corpus at scale) and
    # the untouched singletons are unioned back once at the end (r13
    # optimization; the SQL oracle already computes the closure this way).
    # The initial labels are SEEDED at propagation depth 1 — cluster_id =
    # min(v, min neighbor id), exactly the frame the first loop round
    # used to produce from identity labels — as one aggregate that reuses
    # the persisted frame's dst partitioning (no exchange, no join;
    # ``dst`` carries every endpoint because edges are symmetric), so
    # shallow clusters (the common near-dup case) converge one full
    # join+aggregate+checkpoint round earlier (r13, second pass).
    # Eagerly checkpointed (a thin id frame) because the returned plan
    # still references it AFTER the loop unpersists ``edges`` — without
    # the cut, materializing the result would re-run the whole upstream
    # pair-generation pipeline.
    labels = (
        edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("src").alias("_nbr_min"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("_nbr_min")).alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    edge_nodes = labels.select("doc_id")
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
            )
        )
        # Materialize and cut lineage each round — without this the plan
        # doubles per iteration and the optimizer, not the data, becomes the
        # bottleneck.  (On a cluster use checkpoint() to reliable storage.)
        # The convergence probe rides the SAME action as an Observation
        # metric filled while the checkpoint materializes — one driver job
        # per iteration instead of two (r13 optimization; the separate
        # filter+count scan of the checkpointed frame is gone).  NULL
        # ``_changed`` rows (no neighbor) are skipped by SUM exactly as the
        # old filter skipped them.
        from pyspark.sql import Observation

        obs = Observation()
        updated = updated.observe(
            obs,
            F.coalesce(
                F.sum(F.col("_changed").cast("int")), F.lit(0)
            ).alias("n_changed"),
        ).localCheckpoint(eager=True)
        changed = int(obs.get["n_changed"])
        labels = updated.drop("_changed")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "iterations: a component's diameter exceeds the budget and its "
            "labels are still propagating (clusters would under-merge)"
        )
        if on_unconverged == "raise":
            raise RuntimeError(msg)
        if on_unconverged == "warn":
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    if not include_singletons:
        return labels
    singletons = node_ids.join(edge_nodes, "doc_id", "left_anti").select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    )
    return labels.unionByName(singletons)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster summary: MinHash-LSH pairs -> connected components.

    The end-to-end LLM-dedup shape: candidate pairs (sub-quadratic LSH) ->
    transitive clusters -> keep min doc_id per cluster.  Returns non-trivial
    clusters (size > 1) with the kept doc and the duplicate count.  Built on
    the md5 MinHash pair chain, so the WHOLE chain — signatures, banding,
    Jaccard verification, transitive closure — carries an exact DuckDB
    oracle (recursive-CTE reachability mirrors the label-propagation loop);
    union-find equivalence and determinism are additionally pinned in tests.
    """
    d = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, shards=spark.sparkContext.defaultParallelism
    ).select("doc_a", "doc_b")
    # max_iterations=10 gives headroom over the default 6 (each iteration
    # past convergence is skipped via the changed==0 break, so the extra
    # budget costs nothing on shallow cluster graphs); an adversarial
    # longer-than-10 chain raises instead of silently under-merging.
    # include_singletons=False: the final filter keeps only size>1
    # clusters, whose members are all edge nodes — the corpus-sized
    # singleton anti-join/union and their trip through this aggregate are
    # pure waste (r14; the oracle already computes the closure edge-only).
    labels = connected_components(
        pairs, d.select("doc_id"), max_iterations=10,
        include_singletons=False,
    )
    return (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
        .select(
            F.col("cluster_id").alias("kept_doc_id"),
            (F.col("cluster_size") - 1).alias("n_duplicates"),
        )
    )


def _dedup_components_oracle() -> str:
    """Exact SQL mirror of ``dedup_components``: the md5 MinHash
    pair oracle feeds a recursive-CTE transitive closure (the SQL dual of
    the min-label-propagation loop); each edge-connected node labels itself
    with the minimum doc_id it can reach.  Singleton docs never join a
    cluster of size > 1, so restricting the closure to edge nodes is
    equivalent to Spark's all-docs label frame."""
    pair_sql = _minhash_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({pair_sql})
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ), reach AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), labels AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
        FROM reach GROUP BY s
    )
    SELECT cluster_id AS kept_doc_id,
           COUNT(*) - 1 AS n_duplicates
    FROM labels
    GROUP BY cluster_id
    HAVING COUNT(*) > 1
    """


_oracle("dedup_components", _dedup_components_oracle())


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based survivorship: within each near-dup cluster keep the
    HIGHEST-quality document (ties -> lowest doc_id), not the arbitrary
    min-id that ``dedup_components`` keeps.

    This is the missing half of a production dedup pass: clustering decides
    WHICH docs are duplicates, survivorship decides WHICH COPY trains the
    model — pretraining pipelines keep the cleanest copy (SemDeDup,
    Gopher), so the cluster labels are joined with the deterministic
    ``doc_quality`` score and reduced by argmax.  Scale shape: the argmax
    is the window-free two-step (per-cluster max, then min doc_id among the
    ties) over the persisted member frame — two thin-key shuffles on
    cluster_id, nothing driver-side.
    """
    from airflow_postgres_to_s3_pipeline_spark.operators.text import doc_quality

    d = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, shards=spark.sparkContext.defaultParallelism
    ).select("doc_a", "doc_b")
    # edge-node labels only (see dedup_components): the size>1 filter
    # makes singleton clusters unreachable, so the quality join and both
    # cluster aggregates run over |edge nodes| rows, not |corpus| (r14)
    labels = connected_components(
        pairs, d.select("doc_id"), max_iterations=10,
        include_singletons=False,
    )
    quality = doc_quality(spark, sf_dir).select("doc_id", "quality_score")
    member = tracked_persist(labels.join(quality, "doc_id"))
    stats = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("quality_score").alias("kept_quality"),
    )
    kept = (
        member.join(stats, "cluster_id")
        .filter(F.col("quality_score") == F.col("kept_quality"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("kept_doc_id"))
    )
    return (
        kept.join(stats, "cluster_id")
        .filter(F.col("cluster_size") > 1)
        .select("kept_doc_id", "kept_quality", "cluster_size")
    )


def _dedup_keep_best_oracle() -> str:
    # quality comes from text.QUALITY_SCORE_SQL — the same fragment the
    # doc_quality oracle interpolates — so the Spark side's doc_quality
    # import and this oracle can never silently desynchronize (ADVICE r5)
    from airflow_postgres_to_s3_pipeline_spark.operators.text import (
        QUALITY_SCORE_SQL,
    )

    pair_sql = _minhash_lsh_oracle()
    return rf"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({pair_sql})
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ), reach AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), labels AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
        FROM reach GROUP BY s
    ), quality AS (
        {QUALITY_SCORE_SQL}
    ), member AS (
        SELECT l.doc_id, l.cluster_id, q.quality_score
        FROM labels l JOIN quality q USING (doc_id)
    ), stats AS (
        SELECT cluster_id, COUNT(*) AS cluster_size,
               MAX(quality_score) AS kept_quality
        FROM member GROUP BY cluster_id
    ), kept AS (
        SELECT m.cluster_id, MIN(m.doc_id) AS kept_doc_id
        FROM member m JOIN stats s
          ON m.cluster_id = s.cluster_id
         AND m.quality_score = s.kept_quality
        GROUP BY m.cluster_id
    )
    SELECT k.kept_doc_id, s.kept_quality, s.cluster_size
    FROM kept k JOIN stats s USING (cluster_id)
    WHERE s.cluster_size > 1
    """


_oracle("dedup_keep_best", _dedup_keep_best_oracle())


# ---------------------------------------------------------------------------
# E25b: SimHash near-dedup
# ---------------------------------------------------------------------------

SIMHASH_MD5_BITS = 60  # bits of md5 prefix per token hash and signature


def simhash_signatures_md5(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           bits: int = SIMHASH_MD5_BITS) -> DataFrame:
    """SimHash from md5-derived token hashes, as one vectorized
    mapInPandas pass: tokenize exactly like
    ``simhash_signatures_md5_expr`` (split on single spaces, empty tokens
    dropped, zero-token docs omitted), hash each token to its 60-bit md5
    prefix, and assemble the signature from per-bit vote sums
    v_i = 2 * count(bit i set) - n_tokens, bit i = (v_i > 0), computed
    with ``np.add.reduceat`` segment sums (measured at sf0.1: ~0.2s
    against 2.4s for the 60 per-bit HOF filter passes of the expression
    formulation).  All integer arithmetic, so BIT-identical to the
    expression reference and the SQL oracles — pinned by
    tests/test_dedup.py::test_simhash_signatures_np_matches_expr.
    """

    def sign(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids, toks, lens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                tl = [t for t in (text or "").split(" ") if t]
                if not tl:
                    continue  # expression tier drops zero-token docs
                ids.append(doc_id)
                lens.append(len(tl))
                toks.extend(tl)
            if not ids:
                yield pd.DataFrame(
                    {"doc_id": pd.Series(dtype="int64"),
                     "simhash": pd.Series(dtype="int64")}
                )
                continue
            x = np.empty(len(toks), dtype=np.int64)
            for i, t in enumerate(toks):
                x[i] = int(md5(t.encode("utf-8")).hexdigest()[:15], 16)
            lens_a = np.asarray(lens, dtype=np.int64)
            offsets = np.zeros(len(lens_a), dtype=np.int64)
            np.cumsum(lens_a[:-1], out=offsets[1:])
            sig = np.zeros(len(lens_a), dtype=np.int64)
            for i in range(bits):
                set_counts = np.add.reduceat((x >> i) & 1, offsets)
                # v_i = 2*set - n > 0  <=>  bit i of the signature
                sig |= ((2 * set_counts - lens_a) > 0).astype(
                    np.int64
                ) << i
            yield pd.DataFrame(
                {"doc_id": np.asarray(ids, dtype=np.int64), "simhash": sig}
            )

    return df.select(id_col, text_col).mapInPandas(
        sign, "doc_id long, simhash long"
    )


def simhash_signatures_md5_expr(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                bits: int = SIMHASH_MD5_BITS) -> DataFrame:
    """The md5 SimHash tier as pure Spark SQL expressions — the reference
    formulation the SQL oracles mirror line-by-line (and the parity pin
    for the numpy kernel above): token hash = first 60 bits of
    md5(token), so every step (hash, per-bit vote sums, sign threshold,
    signature assembly) is bit-identical in any engine with md5 + 64-bit
    integers.  60 signature bits instead of 64 — four bits of resolution
    traded for an exact SQL mirror.  Row-local (zero shuffles); the 60
    per-bit HOF filters are the cost the numpy kernel removes.
    Zero-token docs are dropped (they have no signature).
    """
    token_hashes = F.transform(
        F.filter(F.split(text_col, " "), lambda t: F.length(t) > 0),
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
        ).cast("long"),
    )
    hashed = df.select(
        F.col(id_col).alias("doc_id"), token_hashes.alias("ths")
    ).filter(F.size("ths") > 0)

    def _bit_set(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    vote_cols = []
    for i in range(bits):
        set_count = F.size(F.filter(F.col("ths"), _bit_set(i)))
        vote_cols.append((set_count * 2 - F.size("ths")).alias(f"_v{i}"))
    voted = hashed.select("doc_id", *vote_cols)

    sig = None
    for i in range(bits):
        term = F.when(
            F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale.

    Signatures are the 60-bit md5 SimHash (``simhash_signatures_md5``),
    so documents with no non-empty token have no signature and never
    pair.  Splits the signature into 4 chunks of 15 bits; any pair
    within hamming distance 3 must agree on >= 1 chunk (pigeonhole), so
    candidate generation is ONE equi-join on (chunk_id, chunk value) over
    the exploded chunk rows instead of an all-pairs scan.

    ``max_bucket`` is the hamming-band twin of ``LSH_MAX_BUCKET`` (r9
    verdict task 7): the chunk space is only 15-16 bits, so a hub chunk
    value — near-constant per-bit votes on templated/low-entropy corpora
    — collects Θ(n) docs and turns the chunk self-join Θ(n²), the exact
    failure mode measured on the MinHash band join in r9 (the 20-word
    smoke vocabulary produces single chunk buckets of ~n/3 docs at 500k).
    Same windowed count over the join's own shuffle key, same
    falsy-disables convention, same QUALIFY mirror in the SQL oracle, so
    capped and uncapped corpora alike keep the exact hash match.  Docs in
    an over-cap chunk still pair through their other three chunks; the
    pigeonhole guarantee degrades only for pairs ALL of whose agreeing
    chunks are hubs — md5-identical docs being the exact tier's job.
    """
    # capped path: the bucket-collapse expansion consumes the signatures
    # ONCE, so no persist barrier is needed (the r13 shape below); the
    # uncapped self-join fallback consumes them twice and persists.
    sig = simhash_signatures_md5(df, text_col, id_col)
    chunk_bits, n_chunks = 15, 4
    if not max_bucket:
        sig = tracked_persist(sig)
    mask = (1 << chunk_bits) - 1
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", F.col("ch.chunk_id").alias("chunk_id"), F.col("ch.chunk").alias("chunk"))
    if max_bucket:
        # bucket-collapse pair expansion (the lsh_candidate_pairs r13
        # shape — see its docstring): one collect_list exchange, cap as a
        # size filter, C(b,2) expansion row-local in a HOF bounded by the
        # cap.  A doc contributes one row per chunk_id, so doc_ids are
        # unique within a bucket and the sorted i<j expansion equals the
        # self-join's doc_a < doc_b (sort_array on the struct orders by
        # doc_id, its first field).  Uncapped falls back to the
        # distributed self-join below, the module convention.
        buckets = chunks.groupBy("chunk_id", "chunk").agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ms")
        )
        pair_structs = sorted_pairs(
            F.col("ms"),
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("sig_a"),
                y["simhash"].alias("sig_b"),
            ),
        )
        cand = (
            buckets.filter(
                (F.size("ms") >= 2) & (F.size("ms") <= max_bucket)
            )
            .select(F.explode(pair_structs).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
            .distinct()
        )
    else:
        a = chunks.alias("a")
        b = chunks.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.chunk_id") == F.col("b.chunk_id"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"),
            )
            .distinct()
        )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over documents.

    Like MinHash-LSH: for a FIXED hash family the vote→threshold→band→
    hamming chain is fully deterministic, so md5-derived token hashes give
    the whole pipeline an exact DuckDB oracle (previously rows-only).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return simhash_near_pairs(d)


def _simhash_oracle(bits: int = SIMHASH_MD5_BITS, chunk_bits: int = 15,
                    max_hamming: int = 3,
                    source: str = "SELECT doc_id, text FROM documents",
                    max_bucket: int = LSH_MAX_BUCKET) -> str:
    """Exact SQL mirror of ``simhash_near_pairs``: md5 token hashes,
    per-bit vote sums, sign-threshold signature assembly, 15-bit chunk
    banding (hub chunks over ``max_bucket`` dropped by the identical
    QUALIFY windowed count, falsy = disabled), hamming verification."""
    vote_exprs = ",\n               ".join(
        f"2 * SUM(CAST((x >> {i}) & 1 AS BIGINT)) - COUNT(*) AS v{i}"
        for i in range(bits)
    )
    sig_expr = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    mask = (1 << chunk_bits) - 1
    chunk_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_id, "
        f"(simhash >> {c * chunk_bits}) & {mask} AS chunk FROM sigs"
        for c in range(4)
    )
    cap_filter = (
        f"""
        QUALIFY COUNT(*) OVER (PARTITION BY chunk_id, chunk) <= {max_bucket}"""
        if max_bucket
        else ""
    )
    return f"""
    WITH src AS (
        {source}
    ), toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '),
                                  t -> length(t) > 0)) AS token
        FROM src
    ), tx AS (
        SELECT doc_id,
               ('0x' || substring(md5(token), 1, 15))::BIGINT AS x
        FROM toks
    ), votes AS (
        SELECT doc_id,
               {vote_exprs}
        FROM tx GROUP BY doc_id
    ), sigs AS (
        SELECT doc_id, {sig_expr} AS simhash
        FROM votes
    ), chunks AS (
        {chunk_selects}
    ), chunksc AS (
        SELECT doc_id, simhash, chunk_id, chunk FROM chunks{cap_filter}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM chunksc a JOIN chunksc b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


_oracle("simhash_dedup", _simhash_oracle())


# ---------------------------------------------------------------------------
# E25c: n-gram Jaccard similarity (exact, blocked by language)
# ---------------------------------------------------------------------------

NGRAM_DF_CAP = LSH_MAX_BUCKET
"""Document-frequency cap for the exact n-gram posting join, IN CODE.

``ngram_jaccard_pairs`` intersects docs by self-joining the exploded
(lang, shingle) posting lists — the same shape whose hub failure mode the
MinHash band join (``LSH_MAX_BUCKET``), the SimHash chunk join, and the
eval ground truths (``LSH_EVAL_MAX_DOCS``) were measured and capped for:
ONE boilerplate shingle shared by b docs emits C(b,2) intersection rows,
so a Θ(n) posting makes the stage Θ(n²) (measured r10 session 3 — see
docs/SCALE.md).  Shingles in more than this many same-language docs are
dropped from BOTH the intersection AND the set sizes (one window count on
the join's own shuffle key, shared ``_cap_buckets``), so the result is
exact Jaccard over sub-cap-df shingles — symmetric, so verbatim
duplicates keep J = 1 and a doc of pure boilerplate (every shingle
over-cap) is reported by the exact-hash tier, not here.  Two directions
of results change when the cap binds, both inherent to df-filtered
Jaccard (the standard crawl-dedup semantics): pairs sharing ONLY hub
shingles are dropped, and a pair that is mostly boilerplate with a few
shared rare shingles can be lifted ABOVE the threshold (e.g. 20 over-cap
+ 4 of 5 rare shingles shared: raw J ≈ 0.09, df-capped J ≈ 0.67) — i.e.
the cap measures similarity of what is DISTINCTIVE about each doc, which
is exactly what near-dup review wants but is not raw whole-text Jaccard.
Mirrored as a QUALIFY in the SQL oracle; never binds on testdata (max
sf0.1 posting: 14 docs)."""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        max_posting: int = NGRAM_DF_CAP) -> DataFrame:
    """Exact word-3-gram Jaccard for same-language doc pairs above 0.5.

    Blocking on lang bounds the pair space; the intersection is computed by
    joining the exploded shingle tables (shuffle on shingle), never by a
    cartesian product.  Postings larger than ``max_posting`` docs are
    dropped on both sides of the Jaccard (see ``NGRAM_DF_CAP`` for the
    quadratic failure mode this bounds; 0/None disables, matching the
    other cap sites).  Exact and deterministic, so it carries a full SQL
    oracle (shingling mirrored with list_transform/UNNEST, the cap as a
    QUALIFY).
    """
    # spread the single local parquet file across cores before the
    # row-local shingling HOF (see spread_input: conditional, a pre-split
    # corpus skips it; without it the whole corpus shingled in ONE scan
    # task — measured r14: 6.6s of this entry's 8.0s)
    d = spread_input(table(spark, sf_dir, "documents"))
    sh = shingle(d, "text", "doc_id", k=3)
    langs = d.select(F.col("doc_id"), F.col("lang"))
    sh = sh.join(langs, "doc_id")
    if max_posting:
        # r14 bucket collapse (guide §2.4, the r13 LSH-band treatment on
        # the exact posting join): each (lang, shingle) posting collapses
        # to ONE sorted-ids row via collect_list (partially aggregated
        # map-side), the df cap becomes a plain size filter — no window,
        # no per-partition sort — and the C(df,2) intersection pairs
        # expand row-locally in a HOF bounded by the cap instead of
        # through the self-join (which re-sorted the full posting table
        # twice for its SMJ).  A doc appears at most once per posting
        # (shingle() explodes array_distinct), so the sorted i<j
        # expansion is exactly the join's doc_a < doc_b predicate and the
        # per-pair row count is unchanged — n_inter is the same multiset
        # (pinned by test_ngram_binding_cap_matches_oracle and the hub
        # test).  Set sizes re-derive from the SAME collapsed frame
        # (explode of ids), so the two consumers share one exchange
        # subtree (ReuseExchange / AQE stage reuse — the exchange carries
        # identical columns for both).  Only safe WITH a cap: uncapped, a
        # hub posting's C(df,2) pair structs would materialize inside ONE
        # row in one task (the _bucket_pair_expansion rule).
        buckets = sh.groupBy("lang", "shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")
        ).filter(F.size("ids") <= max_posting)
        sizes = (
            buckets.select(F.explode("ids").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("set_size"))
        )
        pair_structs = sorted_pairs(
            F.col("ids"),
            lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        )
        inter = (
            buckets.filter(F.size("ids") >= 2)
            .select(F.explode(pair_structs).alias("p"))
            .select(
                F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # uncapped debug/eval convention: keep the distributed reference
        # self-join (see the HOF hub rule above)
        sizes = sh.groupBy("doc_id", "lang").agg(
            F.count(F.lit(1)).alias("set_size")
        )
        sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("lang"), "shingle")
        sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("lang"), "shingle")
        inter = (
            sa.join(sb, ["lang", "shingle"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard3(
                F.col("n_inter"), F.col("size_a"), F.col("size_b")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# E25d: chunk-level (passage) dedup — exact + MinHash tiers over chunks
# ---------------------------------------------------------------------------

CHUNK_ID_BASE = 100_000  # composite chunk key = doc_id * base + chunk_id


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup: repeated non-overlapping token chunks
    across (and within) distinct documents.

    Production corpus dedup can't stop at whole documents — boilerplate
    paragraphs repeat across otherwise-distinct pages.  Composes the
    sliding-window chunker (stride == chunk_size, so passages are
    disjoint) with the md5 group-by exact tier: the shuffle key is the
    16-byte chunk hash, never the passage text, so the stage is as narrow
    at 100 TB as doc-level dedup.  Returns each duplicated passage with
    its copy count, distinct-doc count, and the kept (minimum) location.
    """
    from airflow_postgres_to_s3_pipeline_spark.operators import text as text_ops

    chunks = text_ops.doc_chunking(
        spark, sf_dir, chunk_size=text_ops.CHUNK_SIZE, stride=text_ops.CHUNK_SIZE
    )
    return chunk_dedup_frame(chunks)


def chunk_dedup_frame(chunks: DataFrame) -> DataFrame:
    """Core of ``chunk_dedup`` over any (doc_id, chunk_id, chunk_text)
    frame — separated so tests can plant known repeated passages."""
    return (
        chunks.select(
            "doc_id",
            "chunk_id",
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
        )
        .groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("kept_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _chunk_source_sql(chunk_size: int, stride: int,
                      id_expr: str = "doc_id") -> str:
    """DuckDB CTE mirroring doc_chunking(chunk_size, stride) as a
    (doc_id, text) relation (id optionally composited for chunk keys)."""
    return f"""SELECT {id_expr} AS doc_id,
               array_to_string(list_slice(words, chunk_id * {stride} + 1,
                                          chunk_id * {stride} + {chunk_size}),
                               ' ') AS text
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> len(x) > 0) AS words,
                   UNNEST(range(0, ((len(list_filter(string_split(text, ' '),
                                                     x -> len(x) > 0)) - 1)
                                    // {stride}) + 1)) AS chunk_id
            FROM documents
            WHERE len(list_filter(string_split(text, ' '), x -> len(x) > 0)) > 0
        )"""


def _chunk_dedup_oracle() -> str:
    from airflow_postgres_to_s3_pipeline_spark.operators.text import CHUNK_SIZE

    src = _chunk_source_sql(CHUNK_SIZE, CHUNK_SIZE,
                            id_expr=f"doc_id * {CHUNK_ID_BASE} + chunk_id")
    return f"""
    WITH chunks AS (
        {src}
    )
    SELECT md5(text) AS chunk_md5,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT doc_id // {CHUNK_ID_BASE}) AS n_docs,
           MIN(doc_id // {CHUNK_ID_BASE}) AS kept_doc_id
    FROM chunks
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """


_oracle("chunk_dedup", _chunk_dedup_oracle())


def chunk_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate passages via the md5 MinHash-LSH pipeline over
    non-overlapping chunks — catches boilerplate that exact chunk hashing
    misses (a date or name swapped inside an otherwise-identical passage).

    Chunk identity is the composite key doc_id * CHUNK_ID_BASE + chunk_id
    so the generic pair pipeline (and its SQL oracle) applies unchanged.
    Excludes same-document pairs: adjacent chunks of one doc sharing a
    sentence are chunking overlap, not corpus duplication.
    """
    from airflow_postgres_to_s3_pipeline_spark.operators import text as text_ops

    chunks = text_ops.doc_chunking(
        spark, sf_dir, chunk_size=text_ops.CHUNK_SIZE, stride=text_ops.CHUNK_SIZE
    ).select(
        (F.col("doc_id").cast("long") * CHUNK_ID_BASE + F.col("chunk_id")).alias(
            "doc_id"
        ),
        F.col("chunk_text").alias("text"),
    )
    pairs = minhash_lsh_pairs(
        chunks, shards=spark.sparkContext.defaultParallelism
    )
    return pairs.filter(
        F.expr(f"doc_a div {CHUNK_ID_BASE} != doc_b div {CHUNK_ID_BASE}")
    ).select(
        F.col("doc_a").alias("chunk_a"),
        F.col("doc_b").alias("chunk_b"),
        "jaccard",
    )


def _chunk_near_dedup_oracle() -> str:
    from airflow_postgres_to_s3_pipeline_spark.operators.text import CHUNK_SIZE

    src = _chunk_source_sql(CHUNK_SIZE, CHUNK_SIZE,
                            id_expr=f"doc_id * {CHUNK_ID_BASE} + chunk_id")
    inner = _minhash_lsh_oracle(source=src)
    return f"""
    SELECT doc_a AS chunk_a, doc_b AS chunk_b, jaccard
    FROM ({inner})
    WHERE doc_a // {CHUNK_ID_BASE} <> doc_b // {CHUNK_ID_BASE}
    """


_oracle("chunk_near_dedup", _chunk_near_dedup_oracle())


def _ngram_jaccard_oracle(max_posting: int = NGRAM_DF_CAP) -> str:
    """ngram_jaccard_pairs' oracle, parameterized on the df cap so the
    binding-cap parity test can run both engines at a cap that binds;
    0/None means cap DISABLED (no QUALIFY), matching the Spark builder."""
    cap_cte = (
        f"""sh AS (
        -- the df cap, stride-for-stride with _cap_buckets on (lang,
        -- shingle): postings larger than the cap drop from both the
        -- intersection and the set sizes
        SELECT doc_id, lang, shingle FROM sh_all
        QUALIFY COUNT(*) OVER (PARTITION BY lang, shingle)
                <= {max_posting}
    )"""
        if max_posting
        else "sh AS (SELECT doc_id, lang, shingle FROM sh_all)"
    )
    return f"""
    WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents
        WHERE LEN(string_split(text, ' ')) >= 3
    ), sh_all AS (
        SELECT doc_id, lang,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, LEN(ws) - 2),
                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
               ))) AS shingle
        FROM w
    ), {cap_cte}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter / (za.set_size + zb.set_size - n_inter), 3) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE ROUND(n_inter / (za.set_size + zb.set_size - n_inter), 3) >= 0.5
    """


_oracle("ngram_jaccard_pairs", _ngram_jaccard_oracle())


# ---------------------------------------------------------------------------
# E25e: LSH banding recall/precision evaluation against the exact pair set
# ---------------------------------------------------------------------------

LSH_EVAL_MAX_DOCS = 100_000
"""Eval-corpus sample cap for the banding acceptance gates, IN CODE.

The truth side of ``lsh_recall_eval``/``lsh_band_sweep`` is an
exploded-shingle posting-list self-join: a corpus-common shingle creates
the same Θ(n) posting list → Θ(n²) pairs failure the candidate side
measured and capped with ``LSH_MAX_BUCKET`` (r9: 20.6M ≈ n² candidates at
2M docs, 68 GB spill at 5M).  Until r10 the guard lived in prose ("at
100 TB, run the sweep on a deterministic doc-hash sample"); now the evals
apply ``_eval_doc_sample`` BEFORE shingling, so both the truth and the
candidate side run on the same ≤ ~cap-expected-document sample.  Recall
and band-precision are per-pair properties, so a doc-level sample
estimates them without touching the full corpus.  Never binds on the
test corpora (sf0.1 ships 5k docs); the SQL oracles interpolate the
identical stride filter, so the hash match is preserved even where it
does bind (pinned at a binding cap by tests/test_dedup.py).
"""


def _eval_doc_sample(d: DataFrame, id_col: str = "doc_id",
                     eval_max_docs: int = LSH_EVAL_MAX_DOCS) -> DataFrame:
    """Deterministic doc-hash sample bounding the eval corpus to an
    EXPECTED ``eval_max_docs`` documents: keep a doc iff its md5-derived
    60-bit key ≡ 0 (mod stride), stride = ceil(n / eval_max_docs).

    The stride is computed INSIDE the plan from a one-row count aggregate
    broadcast against the corpus — no driver-side action, no extra
    shuffle (the count reads only the pruned id column).  md5-of-the-
    decimal-string keying keeps the sample engine-independent: the SQL
    mirror (``_eval_sample_sql``) selects the identical documents, and a
    falsy ``eval_max_docs`` disables sampling entirely — the same
    boundary convention as ``lsh_candidate_pairs``'s ``max_bucket``."""
    if not eval_max_docs:
        return d
    n = d.select(F.count(F.lit(1)).cast("long").alias("_n_docs"))
    key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 15),
        16, 10,
    ).cast("long")
    stride = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("_n_docs") / F.lit(eval_max_docs)).cast("long"),
    )
    return (
        d.crossJoin(F.broadcast(n))
        .filter(key % stride == 0)
        .drop("_n_docs")
    )


def _eval_sample_sql(eval_max_docs: int = LSH_EVAL_MAX_DOCS,
                     relation: str = "documents",
                     id_col: str = "doc_id") -> str:
    """The (doc_id, text) source relation of the eval oracles with the
    exact SQL mirror of ``_eval_doc_sample`` applied — same md5 slice,
    same in-plan stride, same disabled-when-falsy convention."""
    if not eval_max_docs:
        return f"SELECT {id_col}, text FROM {relation}"
    return f"""SELECT {id_col}, text FROM {relation}
        WHERE ('0x' || substring(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT
              % GREATEST(1, CAST(CEIL(
                    (SELECT COUNT(*) FROM {relation}) / {eval_max_docs}
                ) AS BIGINT)) = 0"""


def _exact_jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """The banding-free ground truth: every (doc_a, doc_b) whose exact
    shingle Jaccard rounds to >= threshold, via the exploded-shingle
    equi-join (shuffle on shingle — never a cartesian product, but a
    corpus-common shingle still makes one posting list Θ(n) and the join
    Θ(n²), so callers MUST bound the corpus first: both eval entries feed
    this a ``_eval_doc_sample``-capped frame, the code-enforced version
    of the old run-it-on-a-sample prose).  Shared by the recall-eval and
    band-sweep ops."""
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    sizes = sh.select("doc_id", F.size("shingles").alias("set_size"))
    ea = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        ea.join(eb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = jaccard3(F.col("n_inter"), F.col("size_a"), F.col("size_b"))
    return (
        inter.join(za, "doc_a").join(zb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b")
    )


def lsh_recall_eval(spark: SparkSession, sf_dir: str,
                    threshold: float = 0.6, n_hashes: int = 32,
                    bands: int = 8,
                    eval_max_docs: int = LSH_EVAL_MAX_DOCS) -> DataFrame:
    """Measure the MinHash-LSH banding's recall and precision against the
    EXACT near-duplicate pair set — the acceptance test a production
    near-dedup config (n_hashes, bands, threshold) must pass before it
    filters a training corpus.

    Three pair sets over one shared shingle/signature computation:

    - truth: exact word-3-gram Jaccard >= threshold over ALL pairs, via
      the exploded-shingle equi-join (shuffle on shingle — never a
      cartesian product);
    - cand:  the banded LSH candidate pairs (pre-verification);
    - hit:   their intersection — which, because the pipeline's verify
      stage applies the SAME exact-Jaccard filter to candidates, is
      exactly ``minhash_lsh_dedup``'s final output set.

    One row out: ``recall = n_hit / n_truth`` is the banding's miss rate
    made visible (a pair the bands never collide on is silently kept as a
    "unique" document); ``band_precision = n_hit / n_cand`` prices the
    verify stage (how many candidate lookups the exact check throws away).

    100 TB posture: cand/verify is the production plan unchanged.  The
    truth side is the deliberately-exhaustive piece — its shingle join is
    bounded by posting-list sizes, fine at eval scale but corpus-quadratic
    in the worst case — so the eval runs on a deterministic doc-hash
    sample CAPPED IN CODE at ~``eval_max_docs`` expected documents
    (``_eval_doc_sample`` / ``LSH_EVAL_MAX_DOCS``; r9 verdict task 2 —
    previously this guard lived only in this docstring).  Recall is a
    per-pair property, so the doc-level sample estimates it without
    touching the full corpus; ship the measured (recall, precision) with
    the dedup config.  All hashes are md5-derived, so the whole eval —
    sample filter included — carries an exact SQL oracle.
    """
    d = _eval_doc_sample(
        table(spark, sf_dir, "documents"), eval_max_docs=eval_max_docs
    ).repartition(spark.sparkContext.defaultParallelism)
    sh = tracked_persist(shingle_arrays(d, "text", "doc_id", 3), corpus=True)
    sig = tracked_persist(minhash_signatures_md5(sh, n_hashes))
    cand = lsh_candidate_pairs(sig, n_hashes, bands)
    truth = _exact_jaccard_pairs(sh, threshold)

    # Tag-union + per-pair max, then one global aggregate: a single pair-key
    # shuffle computes |truth|, |cand| and |truth ∩ cand| together.
    t = truth.select(
        "doc_a", "doc_b",
        F.lit(1).alias("is_truth"), F.lit(0).alias("is_cand"),
    )
    c = cand.select(
        "doc_a", "doc_b",
        F.lit(0).alias("is_truth"), F.lit(1).alias("is_cand"),
    )
    marked = (
        t.unionByName(c)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("is_truth").alias("it"), F.max("is_cand").alias("ic"))
    )
    # coalesce: SUM over an empty pair set is NULL, but an acceptance
    # gate on a clean corpus must report zeros, not NULLs
    agg = marked.agg(
        F.coalesce(F.sum("it"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("ic"), F.lit(0)).cast("long").alias("n_cand"),
        F.coalesce(F.sum(F.col("it") * F.col("ic")), F.lit(0))
        .cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand")
        ).alias("band_precision"),
    )


def _lsh_recall_eval_oracle(n_hashes: int = 32, bands: int = 8,
                            threshold: float = 0.6,
                            eval_max_docs: int = LSH_EVAL_MAX_DOCS) -> str:
    return f"""
    WITH {_lsh_chain_sql(n_hashes, bands, _eval_sample_sql(eval_max_docs))}, truthi AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, LEN(shingles) AS set_size FROM shl
    ), truth AS (
        SELECT doc_a, doc_b
        FROM truthi
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE ROUND(n_inter / (za.set_size + zb.set_size - n_inter), 3)
              >= {threshold}
    ), marked AS (
        SELECT doc_a, doc_b, MAX(is_truth) AS it, MAX(is_cand) AS ic
        FROM (
            SELECT doc_a, doc_b, 1 AS is_truth, 0 AS is_cand FROM truth
            UNION ALL
            SELECT doc_a, doc_b, 0 AS is_truth, 1 AS is_cand FROM cand
        )
        GROUP BY doc_a, doc_b
    )
    SELECT CAST(COALESCE(SUM(it), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(ic), 0) AS BIGINT) AS n_cand,
           CAST(COALESCE(SUM(it * ic), 0) AS BIGINT) AS n_hit,
           CASE WHEN COALESCE(SUM(it), 0) > 0
                THEN CAST(SUM(it * ic) AS BIGINT)
                     / CAST(SUM(it) AS BIGINT) END AS recall,
           CASE WHEN COALESCE(SUM(ic), 0) > 0
                THEN CAST(SUM(it * ic) AS BIGINT)
                     / CAST(SUM(ic) AS BIGINT) END AS band_precision
    FROM marked
    """


_oracle("lsh_recall_eval", _lsh_recall_eval_oracle())


BAND_SWEEP_GRID = (2, 4, 8, 16)  # band counts swept over the 32-slot sigs


def lsh_band_sweep(spark: SparkSession, sf_dir: str,
                   threshold: float = 0.6, n_hashes: int = 32,
                   band_grid: tuple[int, ...] = BAND_SWEEP_GRID,
                   eval_max_docs: int = LSH_EVAL_MAX_DOCS) -> DataFrame:
    """The LSH banding S-curve, measured: recall and band-precision of
    EVERY banding config in ``band_grid`` against the exact pair set, from
    ONE shared signature computation — the table a curator reads to pick
    (bands, rows) for a target similarity threshold, instead of trusting
    the 1-(1-s^r)^b formula's independence assumptions on a real corpus.

    More bands of fewer rows = higher recall, more false candidates (the
    verify stage pays); fewer bands of more rows = the reverse.  The
    shingle/signature pass — the corpus-sized cost — is computed once and
    persisted; each config adds only its banded self-join, whose output is
    ~linear in true near-dups.  The truth side is the same
    deliberately-exhaustive eval-scale piece as ``lsh_recall_eval``, so
    the sweep runs on the same code-enforced deterministic doc-hash
    sample (``_eval_doc_sample`` / ``LSH_EVAL_MAX_DOCS``).  One row
    per config; fully md5-derived — sample filter included — so the
    whole sweep is oracle-checked.
    """
    d = _eval_doc_sample(
        table(spark, sf_dir, "documents"), eval_max_docs=eval_max_docs
    ).repartition(spark.sparkContext.defaultParallelism)
    sh = tracked_persist(shingle_arrays(d, "text", "doc_id", 3), corpus=True)
    sig = tracked_persist(minhash_signatures_md5(sh, n_hashes))
    truth = _exact_jaccard_pairs(sh, threshold)

    tagged = truth.select(
        F.explode(F.array(*[F.lit(b) for b in band_grid])).alias("bands"),
        "doc_a", "doc_b",
        F.lit(1).alias("is_truth"), F.lit(0).alias("is_cand"),
    )
    # ONE fused candidate plan for every config (r13 optimization, guide
    # §2.4): the per-config lsh_candidate_pairs calls each paid their own
    # collect_list exchange + pair distinct (|grid| x 2 separately
    # scheduled shuffle stages over bucket-thin rows).  Tagging the banded
    # keys with their config and grouping on (bands, band, band_hash)
    # computes every config's buckets in one exchange, and one distinct
    # covers all configs — the `bands` tag keeps per-config pair sets
    # disjoint, so this is exactly the union of the per-config distincts.
    # The size-capped HOF pair expansion is _bucket_pair_expansion — the
    # SAME helper lsh_candidate_pairs's capped path uses (the cap applies
    # per (bands, band, band_hash) bucket, identical to each config's own
    # run); the unchanged oracle pins the equivalence.
    banded_all = None
    for b in band_grid:
        bk = banded_keys(sig, n_hashes, b).select(
            F.lit(b).alias("bands"), "band", "band_hash", "doc_id"
        )
        banded_all = bk if banded_all is None else banded_all.unionByName(bk)
    cand_all = _bucket_pair_expansion(
        banded_all, ("bands", "band", "band_hash"), LSH_MAX_BUCKET,
        carry_cols=("bands",),
    )
    tagged = tagged.unionByName(
        cand_all.select(
            "bands", "doc_a", "doc_b",
            F.lit(0).alias("is_truth"), F.lit(1).alias("is_cand"),
        )
    )
    # per-config sentinel (bands, -1, -1, 0, 0): counts nothing, but
    # guarantees one output row per config even on a corpus with zero
    # true/candidate pairs — the one-row-per-config gate contract
    tagged = tagged.unionByName(
        spark.range(1).select(
            F.explode(
                F.array(*[F.lit(b) for b in band_grid])
            ).alias("bands"),
            F.lit(-1).cast("long").alias("doc_a"),
            F.lit(-1).cast("long").alias("doc_b"),
            F.lit(0).alias("is_truth"),
            F.lit(0).alias("is_cand"),
        )
    )
    marked = (
        tagged.groupBy("bands", "doc_a", "doc_b")
        .agg(F.max("is_truth").alias("it"), F.max("is_cand").alias("ic"))
    )
    per = marked.groupBy("bands").agg(
        F.sum("it").cast("long").alias("n_truth"),
        F.sum("ic").cast("long").alias("n_cand"),
        F.sum(F.col("it") * F.col("ic")).cast("long").alias("n_hit"),
    )
    return per.select(
        "bands",
        (F.lit(n_hashes) / F.col("bands")).cast("int").alias("rows_per_band"),
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand")
        ).alias("band_precision"),
    )


def _lsh_band_sweep_oracle(n_hashes: int = 32,
                           band_grid: tuple[int, ...] = BAND_SWEEP_GRID,
                           threshold: float = 0.6,
                           eval_max_docs: int = LSH_EVAL_MAX_DOCS) -> str:
    cand_ctes = "".join(
        _lsh_band_cand_sql(n_hashes, b, suffix=f"_{b}") for b in band_grid
    )
    cand_selects = "\n        UNION ALL\n        ".join(
        f"SELECT {b} AS bands, doc_a, doc_b, 0 AS is_truth, 1 AS is_cand "
        f"FROM cand_{b}"
        for b in band_grid
    )
    grid_values = ", ".join(f"({b})" for b in band_grid)
    return f"""
    WITH {_lsh_sig_chain_sql(n_hashes, _eval_sample_sql(eval_max_docs))}{cand_ctes}, truthi AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, LEN(shingles) AS set_size FROM shl
    ), truth AS (
        SELECT doc_a, doc_b
        FROM truthi
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE ROUND(n_inter / (za.set_size + zb.set_size - n_inter), 3)
              >= {threshold}
    ), tagged AS (
        SELECT g.bands, t.doc_a, t.doc_b, 1 AS is_truth, 0 AS is_cand
        FROM truth t CROSS JOIN (VALUES {grid_values}) AS g(bands)
        UNION ALL
        {cand_selects}
    ), sentinel AS (
        SELECT s.bands, -1 AS doc_a, -1 AS doc_b,
               0 AS is_truth, 0 AS is_cand
        FROM (VALUES {grid_values}) AS s(bands)
    ), marked AS (
        SELECT bands, doc_a, doc_b, MAX(is_truth) AS it, MAX(is_cand) AS ic
        FROM (SELECT * FROM tagged UNION ALL SELECT * FROM sentinel)
        GROUP BY bands, doc_a, doc_b
    )
    SELECT bands,
           CAST({n_hashes} // bands AS INTEGER) AS rows_per_band,
           CAST(SUM(it) AS BIGINT) AS n_truth,
           CAST(SUM(ic) AS BIGINT) AS n_cand,
           CAST(SUM(it * ic) AS BIGINT) AS n_hit,
           CASE WHEN SUM(it) > 0
                THEN CAST(SUM(it * ic) AS BIGINT)
                     / CAST(SUM(it) AS BIGINT) END AS recall,
           CASE WHEN SUM(ic) > 0
                THEN CAST(SUM(it * ic) AS BIGINT)
                     / CAST(SUM(ic) AS BIGINT) END AS band_precision
    FROM marked
    GROUP BY bands
    """


_oracle("lsh_band_sweep", _lsh_band_sweep_oracle())


def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication accounting — WHERE the duplication lives:
    for each ingest source, how many of its documents are exact copies of
    something in the corpus, how many sit in a near-dup pair, and the
    combined duplicated-document rate.  This is the table that decides
    which crawl/source gets re-scoped before anyone tunes a dedup config.

    Membership is corpus-global attributed to the doc's own source (a doc
    duplicating across sources counts for its source), exact = its md5
    appears more than once, near = it appears on either side of a
    verified MinHash-LSH pair (md5 hashes throughout, so the whole report
    carries an exact SQL oracle; exact dups are also near-dups at
    Jaccard 1.0 — ``n_dup_docs`` is the DISTINCT union, not the sum).

    100 TB posture: the exact tier is the 16-byte-key group-by, the near
    tier is the production banded pipeline unchanged, and membership
    attachment is two left joins on doc_id against frames bounded by the
    duplicated population; output is one row per source.
    """
    d = table(spark, sf_dir, "documents")
    # exact membership as ONE window count over the 16-byte md5 key (r13
    # optimization, guide §2.4): the r9-r12 shape scanned the corpus for
    # the md5 pass, aggregated duplicated hashes, semi-joined the hash
    # frame back to itself, then LEFT-joined the membership onto a THIRD
    # corpus scan — two extra exchanges and one extra scan+md5 pass for
    # a flag the window computes in place on the hash exchange itself.
    wh = Window.partitionBy("h")
    exact = (
        d.select(
            "doc_id", "source",
            F.md5(F.col("text").cast("binary")).alias("h"),
        )
        .withColumn(
            "is_exact",
            F.when(F.count(F.lit(1)).over(wh) > 1, 1).otherwise(0),
        )
        .select("doc_id", "source", "is_exact")
    )
    pairs = minhash_lsh_pairs(
        d, shards=spark.sparkContext.defaultParallelism
    ).select("doc_a", "doc_b")
    near_member = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .select("doc_id", F.lit(1).alias("is_near"))
    )
    m = (
        exact
        .join(near_member, "doc_id", "left")
        .select(
            "source",
            "is_exact",
            F.coalesce(F.col("is_near"), F.lit(0)).alias("is_near"),
        )
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_exact").cast("long").alias("n_exact_dup_docs"),
        F.sum("is_near").cast("long").alias("n_near_dup_docs"),
        F.sum(
            F.when((F.col("is_exact") == 1) | (F.col("is_near") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_dup_docs"),
    ).select(
        "source",
        "n_docs",
        "n_exact_dup_docs",
        "n_near_dup_docs",
        "n_dup_docs",
        (F.col("n_dup_docs") / F.col("n_docs")).alias("dup_rate"),
    )


def _corpus_dedup_report_oracle() -> str:
    return f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_minhash_lsh_oracle()})
    ), near_ids AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION
        SELECT doc_b AS doc_id FROM pairs
    ), dup_h AS (
        SELECT md5(text) AS h FROM documents
        GROUP BY md5(text) HAVING COUNT(*) > 1
    ), m AS (
        SELECT d.source,
               CASE WHEN md5(d.text) IN (SELECT h FROM dup_h)
                    THEN 1 ELSE 0 END AS is_exact,
               CASE WHEN d.doc_id IN (SELECT doc_id FROM near_ids)
                    THEN 1 ELSE 0 END AS is_near
        FROM documents d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_exact) AS BIGINT) AS n_exact_dup_docs,
           CAST(SUM(is_near) AS BIGINT) AS n_near_dup_docs,
           CAST(SUM(CASE WHEN is_exact = 1 OR is_near = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN is_exact = 1 OR is_near = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
               / CAST(COUNT(*) AS BIGINT) AS dup_rate
    FROM m GROUP BY source
    """


_oracle("corpus_dedup_report", _corpus_dedup_report_oracle())


# ---------------------------------------------------------------------------
# E25/E27: exact substring duplicate spans (Lee et al., "Deduplicating
# Training Data Makes Language Models Better" — the exact-substring tier
# the suffix-array pipeline computes, here as a distributed anchor-join)
# ---------------------------------------------------------------------------

# k-gram anchor width (tokens).  Spans shorter than SPAN_MIN_TOKENS are
# noise at corpus scale (boilerplate phrases); the suffix-array paper uses
# 50 BPE tokens — 12 whitespace tokens is the comparable bar on this
# corpus's short synthetic docs.  SPAN_MAX_POSTING caps a gram's posting
# list exactly like MAX_TILE_BUCKET / entity.MAX_BLOCK: a gram shared by
# hundreds of documents is boilerplate, and the real shared spans of the
# docs it joins surface through their OTHER (rarer) grams.
SPAN_K = 5
SPAN_MIN_TOKENS = 12
SPAN_MAX_POSTING = 200


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact duplicated substring spans between document pairs.

    MinHash/SimHash answer "are these documents similar?"; training-data
    decontamination and copyright audits need the stronger "WHICH exact
    passage is shared, where, and how long?" — the suffix-array
    exact-substring tier.  Distributed shape (no suffix array needed):

    1. Row-local: explode each doc into (pos, md5(k-gram)) anchors —
       sequence + transform + explode, no shuffle.
    2. Cap gram posting lists at SPAN_MAX_POSTING (boilerplate bound —
       the hot-key rule every candidate generator in this engine obeys).
    3. Anchor join on the 16-byte gram hash with doc_a < doc_b: the
       banded equi-join, never an all-pairs product.
    4. Diagonal run-length merge: anchors of one shared span lie on one
       diagonal (pa - pb) at consecutive pa, so island id = pa - rank
       over (pair, diagonal) windows; one groupBy emits (start_a,
       start_b, span_tokens = run + K - 1) per maximal span.

    A length-L shared passage yields L-K+1 consecutive anchors -> ONE
    output row; a single-token edit splits the run into two islands
    whose halves must clear SPAN_MIN_TOKENS separately (pinned by test).
    Everything shuffles on gram hash then (pair, diagonal) — both
    bounded keys at 100 TB.
    """
    # spread the single local file before the per-doc gram explode (see
    # spread_input: conditional — local-bench-only parallelism)
    docs = spread_input(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n_grams = F.size("toks") - F.lit(SPAN_K - 1)
    grams = (
        docs.filter(F.size("toks") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_grams - 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(
                            F.concat_ws(
                                " ", F.slice("toks", i + 1, SPAN_K)
                            )
                        ).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.pos", "g.gh")
    )
    sizes = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
    capped = tracked_persist(
        grams.join(sizes, "gh").filter(F.col("c") <= SPAN_MAX_POSTING)
        .drop("c")
    )
    a = capped.select(
        "gh", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = capped.select(
        "gh", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    # No ``.distinct()`` on the anchor join (r14, guide §2.4): ``capped``
    # holds exactly one row per (doc_id, pos) and gh is a FUNCTION of
    # (doc_id, pos), so every joined (doc_a, doc_b, pa, pb) tuple
    # identifies a unique pair of input rows — duplicates cannot exist,
    # and the oracle's SELECT DISTINCT is the same no-op.  Dropping it
    # removes a full exchange + two hash aggregates over the LARGEST
    # intermediate of the query (uniqueness pinned by
    # test_substring_dup_anchor_rows_unique_without_distinct).  ``diag``
    # is projected BEFORE the window so the final groupBy
    # (doc_a, doc_b, diag, isl) reuses the window's (doc_a, doc_b, diag)
    # exchange — hash partitioning on a subset of the grouping keys
    # already satisfies the aggregation's required distribution.
    anchors = a.join(b, "gh").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
    )
    # row_number is deterministic without a distinct upstream: within one
    # (doc_a, doc_b, diag) partition pb = pa - diag, so pa values are
    # unique (ties impossible) — same argument the oracle's ROW_NUMBER
    # rests on.
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = anchors.select(
        "doc_a", "doc_b", "pa", "pb", "diag",
        (F.col("pa") - F.row_number().over(w)).alias("isl"),
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pa").cast("int").alias("start_a"),
            F.min("pb").cast("int").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(SPAN_K - 1))
            .cast("int")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= SPAN_MIN_TOKENS)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


_oracle(
    "substring_dup_spans",
    f"""
    WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i + 1 : i + {SPAN_K}], ' ')) AS gh
        FROM t, UNNEST(generate_series(0, len(toks) - {SPAN_K})) AS u(i)
        WHERE len(toks) >= {SPAN_K}
    ), capped AS (
        SELECT doc_id, pos, gh FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY gh) AS c FROM g
        ) WHERE c <= {SPAN_MAX_POSTING}
    ), anchors AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb
        FROM capped a JOIN capped b ON a.gh = b.gh
         AND a.doc_id < b.doc_id
    ), runs AS (
        SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa
               ) AS isl
        FROM anchors
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pa) AS INTEGER) AS start_a,
           CAST(MIN(pb) AS INTEGER) AS start_b,
           CAST(COUNT(*) + {SPAN_K - 1} AS INTEGER) AS span_tokens
    FROM runs
    GROUP BY doc_a, doc_b, diag, isl
    HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
    """,
)


def substring_dup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup DECISION from the detected spans: keep-first
    policy (the lower doc_id keeps its text; the higher doc_id's shared
    spans are marked for removal), with overlapping removal intervals
    merged by a distributed interval union.

    The action tier on top of :func:`substring_dup_spans` — a curation
    pipeline does not stop at "these passages are shared", it emits per
    doc how many tokens to drop and how many survive.  Interval union is
    the classic SQL island pattern, all inside (doc) windows: sort
    intervals by (start, end), open a new island when start exceeds the
    running MAX(end) of all preceding intervals, then one groupBy per
    island — no driver-side merging, keys bounded by |documents|.

    Output (one row per document, including clean ones):
    (doc_id, n_tokens, n_dup_spans, n_dup_tokens, n_kept_tokens).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    spans = substring_dup_spans(spark, sf_dir)
    ivals = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("span_tokens")).alias("e"),
        )
        .distinct()
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("s", "e")
    marked = ivals.select(
        "doc_id", "s", "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("new_isl"),
    )
    islands = marked.select(
        "doc_id", "s", "e", F.sum("new_isl").over(w_run).alias("isl")
    )
    merged = islands.groupBy("doc_id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
        F.sum(F.col("me") - F.col("ms")).cast("int").alias("n_dup_tokens"),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            (F.col("n_tokens") - F.coalesce("n_dup_tokens", F.lit(0)))
            .alias("n_kept_tokens"),
        )
    )


_oracle(
    "substring_dup_trim",
    f"""
    WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i + 1 : i + {SPAN_K}], ' ')) AS gh
        FROM t, UNNEST(generate_series(0, len(toks) - {SPAN_K})) AS u(i)
        WHERE len(toks) >= {SPAN_K}
    ), capped AS (
        SELECT doc_id, pos, gh FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY gh) AS c FROM g
        ) WHERE c <= {SPAN_MAX_POSTING}
    ), anchors AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb
        FROM capped a JOIN capped b ON a.gh = b.gh
         AND a.doc_id < b.doc_id
    ), runs AS (
        SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa
               ) AS isl
        FROM anchors
    ), spans AS (
        SELECT doc_a, doc_b,
               MIN(pa) AS start_a, MIN(pb) AS start_b,
               COUNT(*) + {SPAN_K - 1} AS span_tokens
        FROM runs
        GROUP BY doc_a, doc_b, diag, isl
        HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
    ), ivals AS (
        SELECT DISTINCT doc_b AS doc_id, start_b AS s,
               start_b + span_tokens AS e
        FROM spans
    ), marked AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) THEN 1 ELSE 0 END AS new_isl
        FROM ivals
    ), islands AS (
        SELECT doc_id, s, e,
               SUM(new_isl) OVER (
                   PARTITION BY doc_id ORDER BY s, e
               ) AS isl
        FROM marked
    ), merged AS (
        SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
        FROM islands GROUP BY doc_id, isl
    ), per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INTEGER) AS n_dup_spans,
               CAST(SUM(me - ms) AS INTEGER) AS n_dup_tokens
        FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(str_split(d.text, ' ')) AS INTEGER) AS n_tokens,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens,
           CAST(len(str_split(d.text, ' ')) AS INTEGER)
               - COALESCE(p.n_dup_tokens, 0) AS n_kept_tokens
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
