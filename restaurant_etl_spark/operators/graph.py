"""Graph analytics over DataFrames: weighted PageRank on the co-purchase
graph — the iterative-algorithm family (complements the Hash-Min
connected components in operators/dedup.py).

Scale shape: the graph is EDGES-AS-A-DATAFRAME, never adjacency in
driver memory. Each power-iteration step is one shuffle join
(edges ⋈ ranks on src) plus one key-partitioned aggregation on dst —
the same plan GraphX/Pregel lowers to. The normalized edge list is
materialized ONCE (localCheckpoint) because every iteration reuses it;
rank frames stay lazy (the 3-step chain is one linear lineage, no
re-computation fan-out).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.operators.registry import register
from restaurant_etl_spark.sources.tables import load_table

DAMPING = 0.85
#: teleport mass: stated as its own literal (not computed as 1 - DAMPING,
#: whose float value 0.15000000000000002 differs from the 0.15 the oracle
#: would parse); the check keeps the pair in sync if either is tuned.
#: A hard raise, not ``assert`` — asserts are stripped under ``python -O``
#: and this guard protects oracle/engine constant agreement.
TELEPORT = 0.15
if abs(DAMPING + TELEPORT - 1.0) >= 1e-12:
    raise ValueError(f"DAMPING + TELEPORT must equal 1.0, got {DAMPING + TELEPORT!r}")
N_ITER = 3
TOP_K = 20


def _oracle_sql() -> str:
    """Unrolled power iteration (x/s/r CTE triples per round) so DuckDB
    can express the exact same fixed-iteration PageRank.

    Order-incidence formulation (r9, VERDICT r8 #7): the co-purchase
    edge table is never built. For weighted PageRank on the co-purchase
    graph, w(src,dst) = #orders containing both, so

        contrib(dst) = Σ_src r(src)·w(src,dst)/outw(src)
                     = Σ_{orders o ∋ dst} ( S(o) − x(dst) )

    with x(p) = r(p)/outw(p) and S(o) = Σ_{p∈o} x(p) — i.e. one
    order-keyed aggregation and one part-keyed aggregation per round
    over the ITEMS table (O(|items|)), instead of a join over the edge
    table (O(Σ sz²) ≈ 240M pre-agg rows at sf10, whose one-time
    materialization + 200M-group hash agg dominated the 711 s sf10
    oracle run). Orders with a single distinct part have no edges and
    are dropped up front (sz >= 2), which keeps the node set — and the
    teleport denominator n — identical to the edge formulation.
    outw(p) = Σ_{o∋p}(sz−1) is an exact integer in doubles. Every stage
    is MATERIALIZED (the sf10 CTE re-evaluation class, r8)."""
    prev = "r0"
    iters = []
    for it in range(1, N_ITER + 1):
        iters.append(
            f"""x{it} AS MATERIALIZED (
        SELECT deg.pk, {prev}.r / deg.outw AS x
        FROM deg JOIN {prev} ON deg.pk = {prev}.pk
    ),
    s{it} AS MATERIALIZED (
        SELECT i.ok, sum(x{it}.x) AS s
        FROM items i JOIN x{it} ON i.pk = x{it}.pk
        GROUP BY i.ok
    ),
    r{it} AS MATERIALIZED (
        SELECT i.pk,
               {TELEPORT} / (SELECT n FROM nn)
               + {DAMPING} * sum(s{it}.s - x{it}.x) AS r
        FROM items i
        JOIN x{it} ON i.pk = x{it}.pk
        JOIN s{it} ON i.ok = s{it}.ok
        GROUP BY i.pk
    )"""
        )
        prev = f"r{it}"
    chain = ",\n    ".join(iters)
    return f"""
    WITH items0 AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    sz AS MATERIALIZED (SELECT ok, count(*) AS sz FROM items0 GROUP BY ok),
    items AS MATERIALIZED (
        SELECT i.ok, i.pk, sz.sz FROM items0 i JOIN sz ON i.ok = sz.ok
        WHERE sz.sz >= 2
    ),
    deg AS MATERIALIZED (
        SELECT pk, CAST(sum(sz - 1) AS DOUBLE) AS outw
        FROM items GROUP BY pk
    ),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS MATERIALIZED (SELECT pk, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    {chain}
    SELECT pk AS l_partkey,
           round({prev}.r * (SELECT n FROM nn), 4) AS rank_scaled
    FROM {prev}
    ORDER BY rank_scaled DESC, l_partkey
    LIMIT {TOP_K}
    """


@register("graph_pagerank_parts", oracle=_oracle_sql(), category="graph")
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 power iterations) over the
    part co-purchase graph: parts appearing in the same order are linked,
    edge weight = number of co-occurring orders. The co-purchase self-join
    fans out only within an order (order sizes are bounded — ≤7 lines in
    TPC-H — so the blow-up is a constant factor, never quadratic in the
    table). Because the graph is symmetric, every node has out-degree ≥ 1:
    no dangling-mass correction term is needed.

    Each iteration: contribs = edges ⋈ ranks (shuffle on src) → groupBy
    dst (partial+final agg); rank' = (1-d)/N + d·contrib. The normalized
    edge list is localCheckpointed once — it is the loop invariant every
    iteration scans — while the rank chain stays lazy (linear lineage).
    Reported as rank·N (≈1.0 for an average node), rounded 4 dp on both
    sides, top-20 with the part key as tiebreak.

    FP-sensitivity note (like the sketch queries): the 4-dp values come
    from three iterations of order-dependent double summation in two
    different engines, so a rank landing exactly on a rounding boundary
    — or a near-tie at rank 20 — could in principle flip a row between
    Spark and the oracle at some scale factor. Hash-matched at
    sf0.001/0.01/0.1 today, and the class is now GUARDED, not just
    documented (VERDICT r6 #5): :func:`pagerank_rank_margins` measures
    the unrounded rank-20/21 gap and every top rank's distance from the
    nearest 4-dp half-boundary; ``tests/test_warehouse_graph.py``
    (and the scale-sweep replica log) fail if either margin ever drops
    within FP slack. Treat a mismatch here as FP drift first, logic bug
    second."""
    scored = _scaled_ranks(spark, sf_dir).select(
        "l_partkey", F.round(F.col("rank_raw"), 4).alias("rank_scaled")
    )
    return scored.orderBy(F.desc("rank_scaled"), "l_partkey").limit(TOP_K)


def _scaled_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, rank_raw): UNROUNDED scaled PageRank for every node —
    shared by the registered query (rounds to 4 dp) and the FP-margin
    guard (which must see the raw doubles).

    Order-incidence formulation (r9): contrib(dst) =
    Σ_{orders o ∋ dst}(S(o) − x(dst)) with x(p) = r(p)/outw(p),
    S(o) = Σ_{p∈o} x(p) — algebraically identical to the edge-join
    power step (w(src,dst) = #shared orders), but each iteration is two
    shuffle joins + two keyed aggs over the ITEMS table (O(|items|),
    ~60M rows at sf10) instead of a join over the materialized edge
    table (O(Σ sz²) ≈ 200M+ rows at sf10, the old localCheckpoint).
    The loop invariant that gets materialized once is now item-sized."""
    from restaurant_etl_spark.sources.staging import staged

    def _build_items() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        items0 = li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
        sz = items0.groupBy("ok").agg(F.count("*").alias("sz"))
        # orders with one distinct part have no co-purchase edges:
        # dropping them up front keeps the node set (and teleport
        # denominator n) identical to the edge formulation.
        return items0.join(sz, "ok").filter(F.col("sz") >= 2)

    # the loop invariant every iteration scans twice — materialized once
    # per CORPUS per process (staged, VERDICT r10 #7: the registered
    # query and the FP-margin guard each re-staged ~28 s of identical
    # construction at sf10)
    items = staged(spark, sf_dir, "lineitem", "pagerank_items", _build_items)
    # node table: out-degree outw(p) = Σ_{o∋p}(sz−1), an exact integer in
    # doubles — identical to the old Σ_dst w
    deg = staged(
        spark, sf_dir, "lineitem", "pagerank_deg",
        lambda: items.groupBy("pk").agg(
            F.sum(F.col("sz") - 1).cast("double").alias("outw")
        ),
    )
    nn = deg.agg(F.count("*").cast("double").alias("n"))

    ranks = deg.select("pk").crossJoin(F.broadcast(nn)).select(
        "pk", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(N_ITER):
        # x is referenced TWICE below (building S and subtracting the
        # self term) — checkpoint it each round, Pregel-style, or the
        # lazy lineage would DUPLICATE the whole prior-iteration subtree
        # per reference (exponential plan growth in N_ITER; the first
        # r9 cut measured a 2,200-line executed plan and +46% at sf0.1
        # from exactly this). x is node-sized: the cheapest thing in
        # the loop to materialize.
        x = (
            deg.join(ranks, "pk")
            .select("pk", (F.col("r") / F.col("outw")).alias("x"))
            .localCheckpoint()
        )
        ix = items.select("ok", "pk").join(x, "pk")
        s = ix.groupBy("ok").agg(F.sum("x").alias("s"))
        # contrib(p) = Σ_{o∋p}(S(o) − x(p)) folded per ROW: each
        # (order, part) incidence contributes s(o) − x(p) and one keyed
        # aggregation finishes the power step — x's second reference
        # rides the same join pipeline instead of a separate re-join
        contrib = (
            ix.join(s, "ok")
            .groupBy("pk")
            .agg(F.sum(F.col("s") - F.col("x")).alias("contrib"))
        )
        ranks = contrib.crossJoin(F.broadcast(nn)).select(
            "pk",
            (
                F.lit(TELEPORT) / F.col("n")
                + F.lit(DAMPING) * F.col("contrib")
            ).alias("r"),
        )
    return ranks.crossJoin(F.broadcast(nn)).select(
        F.col("pk").alias("l_partkey"),
        (F.col("r") * F.col("n")).alias("rank_raw"),
    )


#: FP slack for the margin guard, in 4-dp grid units (1 unit = 1e-4 of
#: rank_scaled). Accumulated double-sum error after N_ITER iterations is
#: ~1e-12 relative → ~1e-7 grid units at rank ≈ O(1-10); 1e-3 gives four
#: orders of magnitude of headroom while still catching any genuinely
#: boundary-sitting value.
MARGIN_SLACK_GRID = 1e-3


def pagerank_rank_margins(spark: SparkSession, sf_dir: str, top_k: int = TOP_K) -> dict:
    """Measure how far graph_pagerank_parts sits from its two FP cliffs
    (VERDICT r6 #5): (a) ``cutoff_gap_grid`` — the unrounded gap between
    rank top_k and top_k+1 in 4-dp grid units (a gap inside FP slack
    means engine-dependent ordering could swap row 20/21); (b)
    ``min_half_dist_grid`` — the minimum distance of any top_k+1 value
    from the nearest .xxxx5 rounding half-boundary (a value ON the
    boundary rounds differently under Spark's HALF_UP vs DuckDB's
    scaled-nearbyint). Driver-side work is top_k+1 rows.

    An EXACTLY-zero cutoff gap is the SAFE case, not the cliff (r9,
    measured at sf10): make_sfN's key-remapped corpus copies produce
    isomorphic twin parts whose ranks are computed by identical
    arithmetic, so the top-20 boundary can land inside a tied twin
    group. Rows whose ROUNDED values are equal are selected by the
    l_partkey tiebreak — a pure integer comparison, identical in both
    engines — so the output is deterministic as long as the rounding
    itself is stable (the half-dist guard). The danger the gap guard
    exists for is a TINY-BUT-NONZERO gap: two genuinely distinct
    doubles separated by ulps, where engine-dependent summation order
    could swap which raw value is larger AND the two could round to
    different grid points. Hence: gap > slack (clearly separated) or
    gap == 0.0 (exact twin tie) passes; 0 < gap <= slack fails."""
    top = (
        _scaled_ranks(spark, sf_dir)
        .orderBy(F.desc("rank_raw"), "l_partkey")
        .limit(top_k + 1)
        .collect()
    )
    grid = [r.rank_raw * 1e4 for r in top]
    cutoff_gap = grid[top_k - 1] - grid[top_k] if len(grid) > top_k else float("inf")
    half_dists = [abs(g - math.floor(g) - 0.5) for g in grid]
    return {
        "cutoff_gap_grid": cutoff_gap,
        "min_half_dist_grid": min(half_dists),
        "slack_grid": MARGIN_SLACK_GRID,
        "ok": (cutoff_gap > MARGIN_SLACK_GRID or cutoff_gap == 0.0)
        and min(half_dists) > MARGIN_SLACK_GRID,
    }
