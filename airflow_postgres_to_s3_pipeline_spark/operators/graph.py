"""Graph analytics over the co-purchase graph (parts sharing an order):
market-basket lift and a deterministic fixed-iteration PageRank.

These extend the §2B surface with the iterative-join family beyond
connected components (operators/dedup.py): PageRank is the canonical
"iterate a join+aggregate to a fixed point" workload, and the co-occurrence
edge list is the canonical self-join fact-derived graph.

Scale notes (100 TB):
- Edge construction is a self-equi-join on the order key — quadratic only
  in lines-per-order, which ``BASKET_CAP`` bounds IN CODE (the data model
  keeps baskets small, but one malformed Θ(n)-line order would emit
  C(n,2) edges; the same hub discipline as the dedup chains' LSH caps).
- Each PageRank iteration is one (edge join + dst-keyed aggregate): two
  shuffles per iteration on a frame of |V| + |E| rows, the textbook
  distributed formulation.  Iterations are a fixed small count here; a
  production loop adds convergence checks + localCheckpoint lineage cuts
  exactly as dedup.connected_components does.
- Determinism: ranks live as integer MICRO-units (1e9 scale) and every
  per-edge contribution is integer floor-division — there is no float
  anywhere in the iteration, so any partitioning, any engine, any
  accumulation order produces byte-identical ranks (the property the
  unrolled recursive-CTE oracle certifies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist
from airflow_postgres_to_s3_pipeline_spark.catalog import table
from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
    _cap_buckets,
    sorted_pairs,
)

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


MIN_SUPPORT = 2
LIFT_TOP_N = 50


BASKET_CAP = 1024
"""Max distinct parts per order admitted to the co-purchase kernels.

Every graph kernel here starts from the basket self-join on l_orderkey,
which emits C(b,2) edge rows for a b-part order — so ONE malformed or
bot-generated Θ(n)-line order makes edge CONSTRUCTION quadratic before
any downstream skew handling (degree orientation bounds the wedge join,
not the edge join that feeds it).  Orders wider than this cap are
excluded from the analysis entirely (one window count on the join's own
shuffle key; a basket containing everything carries no co-purchase
signal), mirrored as a QUALIFY in every oracle via ``_basket_sql``.
Never binds on testdata (TPC-H orders hold <= 7 lines); 0/None disables,
the convention shared with the dedup-chain caps."""


def _baskets(spark: SparkSession, sf_dir: str,
             max_basket: int = BASKET_CAP) -> DataFrame:
    """Distinct (order, part) pairs — the basket relation, hub-capped.

    REFERENCE formulation: at the DEFAULT cap every engine path derives
    from `_basket_sets` (one collect_set exchange; cap as a size
    filter), but the uncapped debug/eval convention (max_basket=0/None)
    still routes `_basket_pair_edges` — and through it triangle_count /
    PageRank / BFS — here via `_pairs_self_join`.  This row form is also
    the semantics oracle the parity tests pin
    `_basket_sets`/`_basket_pair_edges` against, and the direct mirror
    of `_basket_sql`'s QUALIFY shape."""
    b = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    if max_basket:
        # the shared windowed-count cap (dedup._cap_buckets): its exchange
        # on l_orderkey REPLACES the self-join's own exchange downstream,
        # so the net cost is one per-partition sort of the basket frame.
        # No engine path consumes this relation anymore (every kernel
        # derives from _basket_sets, where the cap is a free size filter
        # on the collect_set row — r10 verdict task 3); it remains the
        # parity-test reference and the uncapped fallback of
        # _basket_pair_edges.  A broadcast anti-join against the
        # over-cap order list was A/B'd and is NOT cheaper (same ~0.5s:
        # its broadcast side pays a full extra pass over the corpus to
        # build the — usually empty — hub list), and unlike the window
        # it rescans the corpus at 100 TB.
        b = _cap_buckets(b, max_basket, keys=("l_orderkey",))
    return b


def _basket_pair_edges(spark: SparkSession, sf_dir: str,
                       max_basket: int = BASKET_CAP) -> DataFrame:
    """Co-purchase pairs built ROW-LOCALLY: one (pa, pb) row per
    (order, unordered part pair) with pa < pb — the exact multiset the
    capped basket self-join emits, at one exchange instead of three
    plan stages (r10 verdict task 3).

    The basket self-join formulation pays distinct's 2-key exchange,
    then the cap's window (an l_orderkey exchange + per-partition SORT —
    not map-side combinable), then the self-join probe.  Here the basket
    collapses to ONE row per order via collect_set (ObjectHashAggregate:
    partially aggregated map-side, so the exchange moves thin
    (order, part-set) rows), the cap becomes a plain ``size(parts) <=
    max_basket`` filter — no window, no sort — and the C(b,2) expansion
    happens INSIDE a higher-order function, bounded by the cap, never
    through a join.  Measured at sf0.1 (interleaved same-session A/B,
    min-of-4, triangle_count end-to-end): self-join+window-cap 8.18s vs
    this path 6.90s — a 16% cut that includes erasing the cap's
    0.4-0.7s window-sort premium.  The hub bound is structural: an
    over-cap order is dropped by the size filter BEFORE expansion (its
    basket reaches the filter as one Θ(b) collect_set row, never Θ(b)
    shuffled rows feeding a C(b,2) join probe).

    The HOF expansion is only safe WITH a cap: uncapped, a hub order's
    C(b,2) pair structs would materialize inside ONE row in one task —
    a Θ(b²) single-task allocation strictly worse than the self-join,
    which at least spreads that output across shuffle partitions
    (r11 review).  ``max_basket=0/None`` (the debug/eval convention)
    therefore takes the distributed reference self-join path.

    sort_array makes the per-order pair orientation deterministic; the
    i < j expansion over a sorted set is exactly the self-join's
    ``pa < pb`` predicate (multiset parity pinned by test on both
    paths).
    """
    if not max_basket:
        return _pairs_self_join(_baskets(spark, sf_dir, 0))
    return _pairs_from_sets(_basket_sets(spark, sf_dir, max_basket))


def _pairs_self_join(bp: DataFrame) -> DataFrame:
    """The distributed reference pair expansion: self-join a
    (l_orderkey, l_partkey) row frame on the order key with pa < pb —
    the uncapped fallback shared by `_basket_pair_edges` and lift
    (one definition, so the two uncapped paths cannot diverge from the
    semantics the parity test pins)."""
    a, c = bp.alias("a"), bp.alias("c")
    return a.join(
        c,
        (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("c.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("pa"),
        F.col("c.l_partkey").alias("pb"),
    )


def _basket_sets(spark: SparkSession, sf_dir: str,
                 max_basket: int = BASKET_CAP) -> DataFrame:
    """(l_orderkey, parts) — each order's distinct parts as ONE sorted
    array row.  The collect_set is partially aggregated map-side
    (ObjectHashAggregate), so the single exchange moves thin per-order
    rows; the hub cap is a plain size filter, no window, no sort."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    if max_basket:
        baskets = baskets.filter(F.size("parts") <= max_basket)
    return baskets


def _pairs_from_sets(baskets: DataFrame) -> DataFrame:
    """Expand each sorted part set to its C(b,2) ordered pairs inside a
    higher-order function — one (pa, pb) row per (order, pair), pa < pb:
    the exact multiset the basket self-join emits (pinned by test)."""
    pairs = sorted_pairs(
        F.col("parts"), lambda x, y: F.struct(x.alias("pa"), y.alias("pb"))
    )
    return baskets.select(F.explode(pairs).alias("e")).select(
        F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb")
    )


def _both_orientations(x, y):
    """``sorted_pairs`` make for the symmetric edge feed: (x, y) and
    (y, x) as one two-struct array, flattened once more by the caller."""
    return F.array(
        F.struct(x.alias("pa"), y.alias("pb")),
        F.struct(y.alias("pa"), x.alias("pb")),
    )


def _basket_pair_edges_sym(spark: SparkSession, sf_dir: str,
                           max_basket: int = BASKET_CAP) -> DataFrame:
    """BOTH orientations of every per-order co-purchase pair, duplicates
    included — the multiset feed of the fused adjacency builds (r14): a
    single ``groupBy(src).collect_set`` over this frame performs the
    edge DEDUP, the DEGREE computation and the adjacency-list build in
    ONE exchange, where the r13 kernels paid a distinct/groupBy(pa,pb)
    exchange plus a second per-vertex exchange (and PageRank/BFS scanned
    the basket expansion once per union branch).  Both directions are
    emitted INSIDE the same HOF pass (2 x C(b,2) structs per basket,
    bounded by the cap), so the upstream basket collapse is scanned
    exactly once.  Uncapped falls back to the reference self-join,
    symmetrized by union (the debug/eval convention)."""
    if not max_basket:
        half = _pairs_self_join(_baskets(spark, sf_dir, 0))
        return half.unionAll(
            half.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
        )
    sym = F.flatten(sorted_pairs(F.col("parts"), _both_orientations))
    return (
        _basket_sets(spark, sf_dir, max_basket)
        .select(F.explode(sym).alias("e"))
        .select(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
    )


def _basket_sql(max_basket: int = BASKET_CAP) -> str:
    """The basket relation as a single SQL body (the ``b`` CTE of every
    graph oracle), QUALIFY-mirroring ``_baskets``; 0/None disables."""
    if not max_basket:
        return "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    return f"""SELECT l_orderkey, l_partkey
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {max_basket}"""


def part_cooccurrence_lift(spark: SparkSession, sf_dir: str,
                           max_basket: int = BASKET_CAP) -> DataFrame:
    """Market-basket association: for part pairs co-occurring in >=
    MIN_SUPPORT orders, lift = P(a,b) / (P(a) P(b)) — the classic
    co-purchase affinity score, top-N by lift.

    Shape (r11, on `_basket_sets`): ONE collect_set exchange builds the
    per-order part sets (cap = size filter — see `_basket_pair_edges`);
    the persisted set frame then serves all three consumers row-locally —
    n_orders is a plain count of its rows (one per order), the marginals
    explode it, and the pair counts expand it via the C(b,2) HOF — so
    the old distinct shuffle + window cap + self-join chain is gone.
    Two broadcast joins attach the (part-count-sized) marginals.  lift
    is computed as one integer product then a single division — no
    float accumulation.  Over-cap orders are excluded from n_orders and
    the marginals too, so the lift denominator stays consistent with
    the pair universe.
    """
    # persisted: the collect_set exchange is the heaviest stage and is
    # consumed by THREE references (the n_orders action, the marginals,
    # the pair expansion) — exchange reuse dedupes within one job but
    # not across the count action and the result job (r10 review)
    b = tracked_persist(_basket_sets(spark, sf_dir, max_basket))
    n_orders = b.count()  # one row per under-cap order
    part_orders = (
        b.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if max_basket:
        raw_pairs = _pairs_from_sets(b)
    else:
        # uncapped debug/eval path: the HOF expansion would build a hub
        # order's C(b,2) structs in ONE row (see _basket_pair_edges) —
        # self-join the exploded rows instead, still off the persisted
        # set frame
        raw_pairs = _pairs_self_join(
            b.select("l_orderkey", F.explode("parts").alias("l_partkey"))
        )
    pairs = (
        raw_pairs.groupBy(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_SUPPORT)
    )
    ca = part_orders.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")
    )
    cb = part_orders.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "c_ab",
            "c_a",
            "c_b",
            (
                (F.col("c_ab") * F.lit(n_orders)).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("part_a").asc(),
                 F.col("part_b").asc())
        .limit(LIFT_TOP_N)
    )


_oracle(
    "part_cooccurrence_lift",
    f"""
    WITH b AS (
        {_basket_sql()}
    ), n AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b
    ), po AS (
        SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
               COUNT(*) AS c_ab
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT part_a, part_b, c_ab, ca.c AS c_a, cb.c AS c_b,
           CAST(c_ab * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN po ca ON pairs.part_a = ca.l_partkey
    JOIN po cb ON pairs.part_b = cb.l_partkey
    CROSS JOIN n
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT {LIFT_TOP_N}
    """,
)


ADJ_CHUNK = 1024
"""Max neighbor-array length in the persisted adjacency lists that the
iterative kernels (pagerank_parts, bfs_hops) probe per round.  Arrays are
split row-locally (slice inside a transform — no extra exchange), so a
hub vertex of degree d occupies ceil(d / ADJ_CHUNK) rows of <= 8 KB of
int64 payload each instead of one d-element row: bounded rows at any
scale, while the per-round probe side stays O(|V| + |E|/ADJ_CHUNK) rows
instead of the flat edge list's |E|."""


def _chunk_array(col, chunk: int = ADJ_CHUNK):
    """Split an array column into an array of <= ``chunk``-element slices,
    entirely row-locally.  Empty input arrays cannot occur at the call
    sites (adjacency rows exist only for vertices with >= 1 edge)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chunks_minus_1 = F.floor((F.size(c) - 1) / F.lit(chunk)).cast("long")
    return F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks_minus_1),
        lambda i: F.slice(c, (i * chunk + 1).cast("int"), chunk),
    )


PR_ITERATIONS = 3
PR_SCALE = 1_000_000_000  # ranks in nano-units
PR_DAMP_NUM = 85          # damping 0.85 as an integer ratio
PR_TOP_N = 20


def _symmetric_edges(spark: SparkSession, sf_dir: str,
                     max_basket: int = BASKET_CAP) -> DataFrame:
    """Undirected co-purchase edges as a symmetric directed list."""
    half = (
        _basket_pair_edges(spark, sf_dir, max_basket)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return half.union(half.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))


def pagerank_parts(spark: SparkSession, sf_dir: str,
                   iterations: int = PR_ITERATIONS,
                   max_basket: int = BASKET_CAP) -> DataFrame:
    """Fixed-iteration PageRank over the undirected co-purchase graph,
    in PURE integer arithmetic: rank_micro starts at SCALE div N; each
    round every node sends rank_micro div degree along its edges and
    ranks update to (15% teleport) + (85% of the integer contribution
    sum).  No floats exist in the loop, so the result is bit-identical
    under any partitioning — certified by an unrolled recursive-CTE
    oracle.

    Per iteration: one edge join (src-keyed) + one dst-keyed aggregate —
    the standard distributed PageRank step.  The fixed iteration count
    keeps the entry SQL-expressible; the convergence-checked production
    variant follows dedup.connected_components (scalar convergence
    action + localCheckpoint lineage cuts).
    """
    # The degree-annotated ADJACENCY list is iteration-INVARIANT — build
    # it in ONE pass (one hash(src) exchange: the groupBy) and persist
    # only it.  r13 second pass: the flat degree-weighted edge list made
    # every iteration's rank join probe |E| cached rows; collapsing to
    # per-vertex neighbor arrays shrinks the per-iteration probe side to
    # |V| rows (the contribution explode happens AFTER the join, inside
    # the matched rows), guide §2.3 "shuffle keys and metadata instead of
    # payloads" applied to a cache scan.  deg is the FULL degree computed
    # in the same aggregate; arrays are then split row-locally into
    # <= ADJ_CHUNK-element chunks (zero extra exchanges) so one hub
    # vertex cannot pin a multi-MB row at 100 TB.  The groupBy's
    # hash(src) partitioning survives the chunk explode and the persist,
    # so iterations that fall back to a shuffle join still move only the
    # thin rank frame; the node universe and its count come off the
    # persisted frame with a partial aggregate that reuses the src
    # partitioning — no exchange.
    # Fused adjacency build (r14, guide §2.4): ONE collect_set exchange
    # over the both-directions pair multiset performs the edge dedup, the
    # degree computation (deg = set size, equal to the old count over
    # distinct edges) and the adjacency collapse together — the r13 shape
    # paid _symmetric_edges' distinct exchange AND this groupBy's, and its
    # union scanned the basket expansion once per direction branch.
    adj = tracked_persist(
        _basket_pair_edges_sym(spark, sf_dir, max_basket)
        .groupBy(F.col("pa").alias("src"))
        .agg(F.sort_array(F.collect_set("pb")).alias("nbrs"))
        .select(
            "src",
            F.size("nbrs").cast("long").alias("deg"),
            F.explode(_chunk_array("nbrs")).alias("nbrs"),
        )
    )
    nodes = adj.select("src").distinct()
    n_nodes = nodes.count()  # scalar collection statistic
    teleport = (PR_SCALE * (100 - PR_DAMP_NUM) // 100) // n_nodes
    ranks = nodes.select(
        F.col("src").alias("node"),
        F.lit(PR_SCALE // n_nodes).cast("bigint").alias("r"),
    )
    for _ in range(iterations):
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.explode("nbrs").alias("dst"),
                F.expr("r div deg").alias("w"),
            )
            .groupBy("dst")
            .agg(F.sum("w").alias("s"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(teleport)
             + F.expr(f"(s * {PR_DAMP_NUM}) div 100")).alias("r"),
        )
    return (
        ranks.select(
            "node",
            F.col("r").alias("pr_nano"),
            (F.col("r").cast("double") / F.lit(float(PR_SCALE))).alias("pr"),
        )
        .orderBy(F.col("pr_nano").desc(), F.col("node").asc())
        .limit(PR_TOP_N)
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (DuckDB mirror of
    the integer recurrence; `//` is integer division)."""
    prev = "r0"
    steps = []
    for k in range(1, PR_ITERATIONS + 1):
        steps.append(
            f"""r{k} AS (
        SELECT e.dst AS node,
               (SELECT tp FROM consts)
               + (SUM(p.r // d.deg) * {PR_DAMP_NUM}) // 100 AS r
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN {prev} p ON e.src = p.node
        GROUP BY e.dst
    )"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH b AS (
        {_basket_sql()}
    ), half AS (
        SELECT DISTINCT a.l_partkey AS src, c.l_partkey AS dst
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    ), edges AS (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half
    ), deg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1
    ), consts AS (
        SELECT COUNT(*) AS n,
               (CAST({PR_SCALE} AS BIGINT) * {100 - PR_DAMP_NUM} // 100)
                   // COUNT(*) AS tp
        FROM deg
    ), r0 AS (
        SELECT src AS node,
               CAST({PR_SCALE} AS BIGINT) // (SELECT n FROM consts) AS r
        FROM deg
    ),
    {chain}
    SELECT node,
           CAST(r AS BIGINT) AS pr_nano,
           CAST(r AS DOUBLE) / {float(PR_SCALE)} AS pr
    FROM {prev}
    ORDER BY pr_nano DESC, node ASC
    LIMIT {PR_TOP_N}
    """


_oracle("pagerank_parts", _pagerank_oracle())


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph
# ---------------------------------------------------------------------------

TRI_SUPPORT = 1


# Edge-iterator adjacency lists broadcast only while their ESTIMATED
# in-memory size fits a fixed byte budget; above it the same plan degrades
# to a shuffle equi-join on the endpoint keys (degree orientation bounds
# each neighbor array at O(sqrt(|E|)), so no single row explodes even on
# skewed graphs).  The estimate is |E| x BYTES_PER_EDGE: every oriented
# edge contributes exactly one int64 neighbor entry to exactly one
# adjacency array, and the UnsafeArrayData/row overhead amortizes to
# roughly 3x the raw 8 bytes (8B value + offsets/headers + hash-relation
# slot).  At the 128 MiB budget the gate trips near 4M edges — a
# broadcast the driver and every executor comfortably hold — replacing
# the r7 50M-EDGE count gate whose threshold-sized adjacency (~1.6 GB as
# a hash relation) would have OOMed the driver long before tripping
# (r7 ADVICE.md finding).
TRI_ADJ_BROADCAST_MAX_BYTES = 128 * 1024 * 1024
TRI_ADJ_BYTES_PER_EDGE = 24


def triangle_count(spark: SparkSession, sf_dir: str,
                   orient: str = "degree",
                   wedge_observation=None,
                   max_basket: int = BASKET_CAP) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph — the third
    classic distributed graph kernel beside lift (local edge weights) and
    PageRank (global iteration): triangles measure neighborhood closure
    (clustering), the standard community-density signal.

    Algorithm (default, r7): EDGE ITERATOR — orient every edge (degree
    orientation by default: low-degree endpoint first, bounding out-degree
    at O(sqrt(|E|)) on skewed graphs), build per-vertex sorted
    out-neighbor arrays, then for each edge (a, b) the triangle sinks are
    ``array_intersect(N+(a), N+(b))`` — entirely row-local after two
    adjacency joins, so the |wedges|-sized intermediate (49M rows at
    sf0.1) is NEVER materialized or shuffled.  Measured 3x faster than
    the wedge-join formulation at sf0.1 (14.4s -> ~4.7s warm) with
    bit-identical counts (pinned by test).  Adjacency broadcasts (once —
    both join sides reuse a single exchange) while its estimated bytes
    (|E| x TRI_ADJ_BYTES_PER_EDGE) fit TRI_ADJ_BROADCAST_MAX_BYTES;
    beyond that the identical plan runs as a shuffle join (arrays stay
    bounded by the orientation).

    The wedge-join reference formulation lives in ``_triangles_from_edges``
    and is selected automatically when ``wedge_observation`` is passed —
    the Observation reports the executed wedge count (the kernel's
    intrinsic cost metric), which the regression guard in
    tests/test_graph.py pins degree-oriented <= id-oriented on a skewed
    fixture; a second test pins edge-iterator == wedge-join output.

    Returns (l_partkey, n_triangles) for every part in >= 1 triangle.
    """
    if wedge_observation is not None or TRI_SUPPORT > 1:
        # the support filter needs per-pair occurrence counts, which the
        # fused collect_set adjacency cannot express — keep the deduped
        # edge frame for that configuration (and for the wedge-join
        # reference, whose orientation kernel consumes flat edges)
        edges = (
            _basket_pair_edges(spark, sf_dir, max_basket)
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= TRI_SUPPORT)
            .select("pa", "pb")
        )
        if wedge_observation is not None:
            return _triangles_from_edges(
                edges, orient, wedge_observation, out_col="l_partkey"
            )
        return _triangles_edge_iterator(edges, orient, out_col="l_partkey")
    # TRI_SUPPORT == 1: the support filter is a pure dedup, which the
    # fused adjacency build performs inside its collect_set — feed the
    # symmetric pair multiset straight in (r14: one exchange builds
    # dedup + degree + adjacency; see _triangles_edge_iterator)
    return _triangles_edge_iterator(
        _basket_pair_edges_sym(spark, sf_dir, max_basket),
        orient,
        out_col="l_partkey",
        sym_multiset=True,
    )


def _triangles_edge_iterator(
    edges: DataFrame,
    orient: str = "degree",
    out_col: str = "vertex",
    broadcast_adj: bool | None = None,
    contrib_mode: str = "single_pass",
    sym_multiset: bool = False,
) -> DataFrame:
    """Edge-iterator triangle counting from an undirected (pa, pb) edge
    list: orient, build sorted out-neighbor arrays, intersect per edge.
    Every oriented triangle has a unique (source, middle, sink)
    topological order, and the sink set of edge (source, middle) is
    exactly N+(source) ∩ N+(middle) — each triangle found once, the same
    triple the wedge-join reference emits.

    Fused build (r14, guide §2.4 — "two operations keyed the same way can
    share one exchange"): ONE ``groupBy(v).collect_set`` over the
    symmetric pair multiset performs the edge dedup, the degree
    computation and the undirected-adjacency build together, where the
    r13 shape paid a (pa, pb) dedup exchange, a separate degree exchange
    and TWO degree-attach joins.  Orientation is then ROW-LOCAL off that
    persisted frame: explode the undirected arrays, attach the other
    endpoint's degree with one (broadcast-gated) join of the thin
    (v, deg) projection, and keep the low-(deg, id) -> high-(deg, id)
    direction — the same tie rule as ``orient_edges_by_degree``, so the
    oriented edge SET is identical and counts stay bit-equal (pinned by
    the parity tests).  ``sym_multiset=True`` says ``edges`` is already
    the both-directions multiset (``_basket_pair_edges_sym``), possibly
    with duplicates; False symmetrizes an undirected pa<pb list first.

    contrib_mode (r13 A/B, docs/SCALE.md "triangle_count single-pass"):
    'union3' is the r7 shape — a 3-branch union re-selects the intersect
    join once per triangle role, so the adjacency joins + array_intersect
    (the kernel's entire cost) execute THREE times; exchange reuse saves
    the shuffles but not the probe/intersect compute.  'single_pass'
    (default) emits every role's contribution from ONE pass: per edge,
    structs (source, n), (middle, n) and one (sink, 1) per intersect
    element — row-local concat/transform, one explode, identical final
    aggregate.  Shuffle volume drops from 3|tri| rows to
    2|edges_with_triangles| + |tri|, and the join runs once.  Counts are
    bit-identical (pinned by tests/test_graph.py parity tests)."""
    if orient not in ("degree", "id"):
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    if not sym_multiset:
        edges = edges.unionAll(
            edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
        )
    adj0 = tracked_persist(
        edges.groupBy(F.col("pa").alias("v")).agg(
            F.sort_array(F.collect_set("pb")).alias("un")
        )
    )
    if broadcast_adj is None:
        # |E| off the persisted frame: sum of undirected degrees / 2 — a
        # thin-row aggregate replacing the r13 edges.count() job
        m = adj0.agg(F.sum(F.size("un")).alias("m")).first()["m"] or 0
        est_bytes = (int(m) // 2) * TRI_ADJ_BYTES_PER_EDGE
        broadcast_adj = est_bytes <= TRI_ADJ_BROADCAST_MAX_BYTES
    ann = adj0.select(
        "v", F.size("un").alias("_dv"), F.explode("un").alias("_u")
    )
    if orient == "degree":
        degs = adj0.select(F.col("v").alias("_u"), F.size("un").alias("_du"))
        if broadcast_adj:
            degs = F.broadcast(degs)
        keep = (F.col("_du") > F.col("_dv")) | (
            (F.col("_du") == F.col("_dv")) & (F.col("_u") > F.col("v"))
        )
        oriented = ann.join(degs, "_u").filter(keep)
    else:
        oriented = ann.filter(F.col("_u") > F.col("v"))
    oriented = oriented.select(F.col("v").alias("pa"), F.col("_u").alias("pb"))
    # Persist the ORIENTED ADJACENCY (not the flat edge list): its explode
    # IS the oriented edge list with N+(source) already attached, so the
    # r13 shape's first adjacency join disappears entirely and only ONE
    # adjacency broadcast exists by construction.  That matters beyond the
    # saved probe pass: the r13 a1/a2 "shared" broadcast was only reused in
    # the STATIC plan — at runtime AQE wraps each cache scan in its own
    # TableCacheQueryStage and built/shipped the relation TWICE (verified
    # on both the r13 and r14 shapes: two BroadcastQueryStage ids).
    adj = tracked_persist(
        oriented.groupBy(F.col("pa").alias("v")).agg(
            F.sort_array(F.collect_list("pb")).alias("nbrs")
        )
    )
    probe = adj.select(
        F.col("v").alias("pa"),
        F.col("nbrs").alias("na"),
        F.explode("nbrs").alias("pb"),
    )
    a2 = adj.select(F.col("v").alias("pb"), F.col("nbrs").alias("nb"))
    if broadcast_adj:
        a2 = F.broadcast(a2)
    joined = probe.join(a2, "pb")
    if contrib_mode == "single_pass":
        # materialize the intersect ONCE per row; the multi-reference of
        # `cs` below keeps CollapseProject from inlining (and thus
        # re-evaluating) the non-cheap array_intersect per use
        inter = joined.select(
            "pa", "pb", F.array_intersect("na", "nb").alias("cs")
        )
        n = F.size("cs").cast("long")
        contribs = F.when(
            n > 0,
            F.concat(
                F.array(
                    F.struct(F.col("pa").alias("v"), n.alias("w")),
                    F.struct(F.col("pb").alias("v"), n.alias("w")),
                ),
                F.transform(
                    F.col("cs"),
                    lambda c: F.struct(
                        c.alias("v"), F.lit(1).cast("long").alias("w")
                    ),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<v:bigint,w:bigint>>"))
        exploded = inter.select(F.explode(contribs).alias("c"))
        return exploded.groupBy(
            F.col("c.v").alias(out_col)
        ).agg(F.sum("c.w").alias("n_triangles"))
    if contrib_mode != "union3":
        raise ValueError(
            f"contrib_mode must be 'single_pass' or 'union3', "
            f"got {contrib_mode!r}"
        )
    tri = joined.select(
        F.col("pa").alias("ta"),
        F.col("pb").alias("tb"),
        F.explode(F.array_intersect("na", "nb")).alias("tc"),
    )
    members = (
        tri.select(F.col("ta").alias(out_col))
        .unionAll(tri.select(F.col("tb").alias(out_col)))
        .unionAll(tri.select(F.col("tc").alias(out_col)))
    )
    return members.groupBy(out_col).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def orient_edges_by_degree(edges: DataFrame) -> DataFrame:
    """Re-orient every undirected edge (pa, pb) low-(degree, id) ->
    high-(degree, id): the compact-forward orientation that bounds
    per-vertex wedge fan-out by O(sqrt(|E|)) on skewed graphs (a hub only
    FANS OUT to the few vertices of even higher degree).  Triangle counts
    are orientation-invariant, so the degree tier shares the id-oriented
    oracle bit-for-bit (pinned by test)."""
    deg = (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("pb"), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))
    )
    return (
        edges.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
        .withColumnRenamed("src", "pa")
        .withColumnRenamed("dst", "pb")
    )


def _triangles_from_edges(
    edges: DataFrame,
    orient: str = "degree",
    wedge_observation=None,
    out_col: str = "vertex",
) -> DataFrame:
    """Triangle membership counts from an undirected edge list (pa, pb)
    with pa < pb — the kernel shared by triangle_count and the orientation
    tests (which feed synthetic skewed graphs)."""
    if orient == "degree":
        edges = orient_edges_by_degree(edges)
    elif orient != "id":
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    edges = tracked_persist(edges)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa")).select(
        F.col("e1.pa").alias("ta"),
        F.col("e1.pb").alias("tb"),
        F.col("e2.pb").alias("tc"),
    )
    if wedge_observation is not None:
        wedges = wedges.observe(
            wedge_observation, F.count(F.lit(1)).alias("n_wedges")
        )
    tri = wedges.join(
        e3,
        (F.col("ta") == F.col("e3.pa")) & (F.col("tc") == F.col("e3.pb")),
    ).select("ta", "tb", "tc")
    members = (
        tri.select(F.col("ta").alias(out_col))
        .unionAll(tri.select(F.col("tb").alias(out_col)))
        .unionAll(tri.select(F.col("tc").alias(out_col)))
    )
    return members.groupBy(out_col).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def expected_wedge_count(edges: DataFrame, orient: str = "degree") -> int:
    """Closed-form |wedges| for an oriented edge list under the kernel's
    path-wedge join (e1.pb == e2.pa): sum over middle vertices of
    in_degree * out_degree.  Computed from the degree distribution alone
    (two aggregates, no self-join) — the cheap way to predict the closure
    join's cost before running it, and the cross-check for the runtime
    Observation metric."""
    if orient == "degree":
        edges = orient_edges_by_degree(edges)
    elif orient != "id":
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    ins = edges.groupBy(F.col("pb").alias("v")).agg(
        F.count(F.lit(1)).alias("din")
    )
    outs = edges.groupBy(F.col("pa").alias("v")).agg(
        F.count(F.lit(1)).alias("dout")
    )
    row = (
        ins.join(outs, "v")
        .agg(F.sum(F.col("din") * F.col("dout")).alias("wedges"))
        .first()  # single global scalar, not a materialization
    )
    return int(row["wedges"] or 0)


_oracle(
    "triangle_count",
    f"""
    WITH b AS (
        {_basket_sql()}
    ), e AS (
        SELECT a.l_partkey AS pa, c.l_partkey AS pb
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_SUPPORT}
    ), tri AS (
        SELECT e1.pa AS ta, e1.pb AS tb, e2.pb AS tc
        FROM e e1
        JOIN e e2 ON e1.pb = e2.pa
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), members AS (
        SELECT ta AS l_partkey FROM tri
        UNION ALL SELECT tb FROM tri
        UNION ALL SELECT tc FROM tri
    )
    SELECT l_partkey, COUNT(*) AS n_triangles
    FROM members GROUP BY l_partkey
    """,
)


BFS_MAX_HOPS = 6


def bfs_hops(spark: SparkSession, sf_dir: str,
             max_hops: int = BFS_MAX_HOPS,
             max_basket: int = BASKET_CAP) -> DataFrame:
    """Single-source BFS hop distances over the co-purchase graph — the
    fourth graph kernel (after components / PageRank / triangles): "how
    far is every part from the best-connected hub" is the reachability
    question behind related-item exploration depth and graph QA.

    Source = the globally minimum part id (deterministic, no parameter).
    The loop is frontier expansion with a visited set: per hop one edge
    join (frontier-keyed) + one anti-join against visited + a distinct —
    each O(|frontier edges|), never the whole graph re-traversed.  The
    frontier is re-persisted and lineage-cut per hop (localCheckpoint,
    the connected_components discipline); the loop stops early on an
    empty frontier (scalar count — the only driver action) or at
    ``max_hops`` (bounded so the recursive-CTE oracle can mirror it;
    nodes beyond max_hops are reported unreachable-within-bound by
    omission, exactly like the oracle).

    The loop-INVARIANT big side of every hop's join is persisted as a
    chunked ADJACENCY list, not a flat edge list (r13 second pass): the
    flat layout made every hop scan |E| cached rows just to probe the
    (tiny, broadcast) frontier — 2.4M rows per hop at sf0.1, measured as
    the bulk of the per-hop cost.  Grouping to per-vertex neighbor
    arrays (one hash(src) exchange at build, replacing the old
    repartition) shrinks the per-hop probe side to ~|V| rows; the
    neighbor expansion (explode) runs AFTER the join, so each hop's
    explode touches only the frontier's own edges — per-hop work is
    O(|V| scan + |frontier edges|), not O(|E|).  Arrays are split into
    <= ADJ_CHUNK-element chunks row-locally so hub vertices cannot pin
    huge rows (see ADJ_CHUNK); the groupBy's hash(src) partitioning
    survives chunking and the persist, so at scale (frontier too big to
    broadcast) the shuffle join still moves only the frontier side.

    Returns (node, hops) for every node reachable within max_hops.
    """
    # fused adjacency build — same one-exchange dedup+collapse as
    # pagerank_parts (r14); BFS needs no degree column
    adj = tracked_persist(
        _basket_pair_edges_sym(spark, sf_dir, max_basket)
        .groupBy(F.col("pa").alias("src"))
        .agg(F.sort_array(F.collect_set("pb")).alias("nbrs"))
        .select("src", F.explode(_chunk_array("nbrs")).alias("nbrs"))
    )
    source = adj.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("int").alias("hops")
    )
    visited = source.localCheckpoint(eager=True)
    frontier = visited
    from pyspark.sql import Observation

    for hop in range(1, max_hops + 1):
        # the empty-frontier probe rides the checkpoint action as an
        # Observation metric — one driver job per hop instead of two
        # (r13 optimization, same as connected_components)
        obs = Observation()
        nxt = (
            adj.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.explode("nbrs").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("hops"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if int(obs.get["n"]) == 0:
            break
        # plain union, NOT re-checkpointed: every hop's frontier is
        # already an eagerly-materialized localCheckpoint, so the visited
        # set is a union of at most max_hops materialized RDDs — shallow
        # lineage, no recompute.  Re-checkpointing the union (the r7-r12
        # shape) re-materialized the ENTIRE visited set once per hop:
        # Θ(|V| x hops) extra row writes that the anti-join never needed
        # (r13 optimization; guide §5 localCheckpoint note).
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


_oracle(
    "bfs_hops",
    f"""
    WITH RECURSIVE b AS (
        {_basket_sql()}
    ), half AS (
        SELECT DISTINCT a.l_partkey AS src, c.l_partkey AS dst
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    ), edges AS (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst, src FROM half
    ), reach(node, hops) AS (
        SELECT MIN(src), 0 FROM edges
        UNION
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
    FROM reach GROUP BY node
    """,
)
