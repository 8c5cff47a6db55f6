"""Graph analytics corpus queries — iterative algorithms done Spark-first.

The reference engine has no graph surface; this module extends the
superset the way the dedup family's transitive closure
(``operators/components.py``) did: an inherently iterative computation
expressed as per-round DataFrame join+aggregate with lineage cuts, and —
unusually for an iterative op — a FULL value-exact DuckDB oracle.

Two design decisions make the oracle possible:

* **Fixed iteration count.** PageRank here runs exactly ``PR_ITERS``
  rounds (production would iterate to an L1-delta tolerance; the per
  round plan is identical). A fixed count unrolls into ``PR_ITERS``
  chained CTEs on the DuckDB side.
* **Fixed-point integer arithmetic.** Ranks are BIGINTs scaled by
  ``PR_SCALE``; every per-round operation (contribution split, damping,
  dangling redistribution) is integer multiply/divide. Floating-point
  PageRank is NOT reproducible across engines — or even across two runs
  on different cluster sizes, because double summation order changes with
  partitioning. Integer sums are associative-exact, so the result is
  bit-identical on any parallelism AND in DuckDB (Spark ``div`` and
  DuckDB ``//`` agree on non-negative operands; every quantity here is
  non-negative). Truncation error is bounded by 1/PR_SCALE = 1e-12 per
  division — invisible at ranking granularity.

Scale mechanics (the components.py doctrine): each round is one join
of the ranks against the edges on src (the rank vector broadcast while
the node count is under ``operators/graph.py::BROADCAST_MAX_NODES``, a
key-partitioned shuffle join above it) + one aggregate on dst, the
dangling-mass term is a 1-row aggregate broadcast back (no driver
collect), and every round ends in a lazy ``localCheckpoint(eager=False)``
cutting lineage — on a cluster, swap for ``checkpoint`` to an HDFS dir
for fault tolerance. State per round: one BIGINT per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .corpus import corpus_query

PR_SCALE = 10**12          # fixed-point scale: rank mass sums to ~PR_SCALE
PR_ITERS = 5               # fixed rounds (production: iterate to tolerance)
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100          # damping d = 0.85
PR_BASE_NUM = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
# (1-d)*PR_SCALE = 150_000_000_000; per-node base is this div N


def _pagerank_oracle() -> str:
    """Unrolled ``PR_ITERS``-round PageRank as chained CTEs, mirroring the
    Spark integer arithmetic operation-for-operation (`//` == `div` on
    non-negatives; SUMs cast back to BIGINT because DuckDB widens to
    HUGEINT)."""
    parts = [
        f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL
            SELECT dst AS node FROM edges
        ) u
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, {PR_SCALE} // n AS r FROM nodes, nn)"""
    ]
    for i in range(PR_ITERS):
        parts.append(
            f""",
    inc{i} AS (
        SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        FROM edges e
        JOIN r{i} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ),
    dang{i} AS (
        SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dang
        FROM r{i} r LEFT JOIN deg d ON d.src = r.node
        WHERE d.src IS NULL
    ),
    r{i + 1} AS (
        SELECT n.node,
               {PR_BASE_NUM} // nn.n
               + ({PR_DAMP_NUM} * (COALESCE(i.s, 0) + dg.dang // nn.n))
                 // {PR_DAMP_DEN} AS r
        FROM nodes n
        CROSS JOIN nn
        CROSS JOIN dang{i} dg
        LEFT JOIN inc{i} i ON i.node = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           r AS rank_fp
    FROM r{PR_ITERS}"""
    )
    return "".join(parts)


@corpus_query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier trade graph (edges = distinct
    (o_custkey, l_suppkey) pairs; customer nodes 2k, supplier nodes 2k+1
    keep the id spaces disjoint). {PR_ITERS} damped rounds at d=0.85 in
    {PR_SCALE}-scaled fixed point — see the module docstring for why
    integer arithmetic is what makes an iterative algorithm value-exact
    across engines and cluster sizes.

    Suppliers have no outgoing edges, so the graph exercises the dangling
    -mass path every round: dangling rank is summed in a 1-row aggregate
    and redistributed uniformly (broadcast cross-join — no driver
    round-trip, same pattern as operators/share.py).
    """
    from ..operators.graph import pagerank_fixed_point

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    ranks = pagerank_fixed_point(
        edges,
        n_iters=PR_ITERS,
        scale=PR_SCALE,
        damp_num=PR_DAMP_NUM,
        damp_den=PR_DAMP_DEN,
    )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("r").alias("rank_fp"),
    )


# --------------------------------------------------------------------------
# Co-purchase graph: support-filtered frequent pairs + triangle counting.
#
# The edge set is the market-basket co-occurrence graph over lineitem
# (parts appearing in the same order), SUPPORT-FILTERED to pairs that
# co-occur in >= BASKET_MIN_SUPPORT orders. The filter is what makes the
# graph scale-stable: raw co-occurrence pairs grow linearly with orders,
# but pairs that repeat >= 2 times stay sparse because random pair
# collisions dilute as the part dimension grows (measured: ~3.6k edges at
# BOTH sf0.01 and the 10x corpus). This is the A-priori support-pruning
# insight applied as a graph sparsifier.

BASKET_MIN_SUPPORT = 2
BASKET_TOPK = 20

_EDGE_SQL = f"""
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS support
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY u, v HAVING COUNT(*) >= {BASKET_MIN_SUPPORT})"""

_EDGE_POOL: dict = {}
_ORIENTED_POOL: dict = {}  # separate pool: each is a size-1 LRU


def _basket_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-filtered co-purchase edges ``(u, v, support)``, u < v.

    One self-equi-join on l_orderkey (items-per-order is bounded ~7, so
    the pair fan-out per order is <= 21 — never quadratic in the table),
    then a hash-groupBy on the canonical pair. Pooled (bounded LRU) and
    shared by the basket / triangle queries."""

    def build() -> DataFrame:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a = li.alias("a")
        b = li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
            )
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= BASKET_MIN_SUPPORT)
            .cache()
        )
        edges.count()  # materialize at build; pool hits are action-free
        return edges

    from .pooling import bounded_cached

    return bounded_cached(_EDGE_POOL, ("basket_edges", sf_dir), build)


@corpus_query(
    "basket_frequent_pairs",
    oracle=f"""
    WITH {_EDGE_SQL},
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    cnt AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1)
    SELECT u AS part_a, v AS part_b, support,
           ROUND(CAST(support * n_orders AS DOUBLE)
                 / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift
    FROM e, n
    JOIN cnt ca ON ca.l_partkey = u
    JOIN cnt cb ON cb.l_partkey = v
    ORDER BY support DESC, part_a, part_b
    LIMIT {BASKET_TOPK}
    """,
)
def basket_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: top frequent co-purchased part pairs with
    lift. Support counting is one bounded self-join + hash-groupBy; lift
    joins two dimension-sized count frames (broadcast) and the 1-row
    order count (broadcast cross-join, no driver collect). Lift operands
    are exact integers, so the double division + round is engine-stable."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    edges = _basket_edges(spark, sf_dir)
    return (
        edges.crossJoin(F.broadcast(n_orders))
        .join(
            F.broadcast(cnt.withColumnRenamed("l_partkey", "u").withColumnRenamed("c", "ca")),
            "u",
        )
        .join(
            F.broadcast(cnt.withColumnRenamed("l_partkey", "v").withColumnRenamed("c", "cb")),
            "v",
        )
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "support",
            F.round(
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


@corpus_query(
    "graph_triangles",
    oracle=f"""
    WITH {_EDGE_SQL},
    deg AS (SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e) t GROUP BY node),
    o AS (
        -- lexicographic (degree, id) orientation: strict total order for
        -- ANY id domain (no arithmetic packing, no overflow at large ids)
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN u ELSE v END AS src,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN v ELSE u END AS dst
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    wed AS (
        SELECT w1.src AS a,
               LEAST(w1.dst, w2.dst) AS b, GREATEST(w1.dst, w2.dst) AS c
        FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst),
    tri AS (SELECT a, b, c FROM wed JOIN e ON e.u = wed.b AND e.v = wed.c),
    roles AS (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
    SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM roles GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the support-filtered co-purchase graph
    via DEGREE-ORDERED edge orientation (the classic distributed triangle
    algorithm): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one, enumerate wedges as a self-equi-join of
    oriented edges on their source, and close each wedge with one
    equi-join back to the canonical (u < v) undirected edge set — the
    wedge endpoints are emitted in numeric order, so closure needs no
    OR-predicate (stays a hash join, never a nested loop).

    Orientation caps the wedge fan-out at O(sqrt(m)) per node regardless
    of raw degree skew — the property that makes triangle counting
    feasible on power-law graphs at cluster scale. Every triangle is
    counted exactly once (its unique out-degree-2 apex), then exploded to
    its three member nodes for per-node counts."""
    edges = _basket_edges(spark, sf_dir).select("u", "v")

    # the oriented frame is pooled: it is referenced twice by the
    # wedge self-join, and its upstream (degree groupBy + two joins)
    # would otherwise re-run its shuffle chain once per reference —
    # measured 4.4 s of pure stage latency on a 3.6k-row graph
    def build_oriented() -> DataFrame:
        out = oriented_edges(edges).cache()
        out.count()  # materialize at build; pool hits are action-free
        return out

    from .pooling import bounded_cached

    oriented = bounded_cached(
        _ORIENTED_POOL, ("basket_oriented", sf_dir), build_oriented
    )
    return triangle_node_counts(edges, oriented).select(
        F.col("node").alias("p_partkey"), "triangles"
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient canonical undirected edges ``(u, v)`` (u < v) from the
    lower-(degree, id) endpoint to the higher: ``(src, dst)``.

    The order is the LEXICOGRAPHIC (degree, id) comparison — a strict
    total order for ANY id domain. (An earlier d*1_000_000+n arithmetic
    packing was only injective for ids < 1e6 — TPC-H partkeys exceed
    that from ~sf5 — where collisions would silently break the
    O(sqrt(m)) wedge bound that degree ordering exists to provide;
    pinned by tests/test_graph.py's big-id differential test.)"""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(F.broadcast(deg).withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(F.broadcast(deg).withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    forward = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(forward, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(forward, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def triangle_node_counts(edges: DataFrame, oriented: DataFrame) -> DataFrame:
    """Per-node triangle counts ``(node, triangles)`` from a canonical
    (u < v) edge frame and its degree-oriented twin.

    The support filter keeps the corpus frame dimension-sized and scale-
    stable (~3.6k edges at BOTH sf0.01 and sf0.1 — collision dilution),
    so the wedge/closure joins broadcast: the whole triangle stage
    collapses to map-side work over the pooled edge frame (measured
    5.9s -> sub-second warm; the 64-partition shuffle chain was pure
    scheduling latency on 3.6k rows). On a graph whose FILTERED edge set
    outgrew broadcast, drop the hints — the same plan becomes shuffle
    hash joins and the orientation bound on wedge fan-out still holds."""
    w1 = oriented.alias("w1")
    w2 = oriented.alias("w2")
    wedges = w1.join(
        F.broadcast(w2),
        (F.col("w1.src") == F.col("w2.src")) & (F.col("w1.dst") < F.col("w2.dst")),
    ).select(
        F.col("w1.src").alias("a"),
        F.least("w1.dst", "w2.dst").alias("b"),
        F.greatest("w1.dst", "w2.dst").alias("c"),
    )
    tri = wedges.join(
        F.broadcast(edges), (F.col("b") == F.col("u")) & (F.col("c") == F.col("v"))
    ).select("a", "b", "c")
    roles = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return roles.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )


LINKPRED_TOPK = 20


@corpus_query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_EDGE_SQL},
    adj AS (
        SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    common AS (
        SELECT a.node AS pa, b.node AS pb, COUNT(*) AS cn
        FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY 1, 2),
    cand AS (
        SELECT c.pa, c.pb, c.cn
        FROM common c
        LEFT JOIN e ON e.u = c.pa AND e.v = c.pb
        WHERE e.u IS NULL)
    SELECT pa, pb, CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(CAST(cn AS DOUBLE) / (da.d + db.d - cn), 6) AS nbr_jaccard
    FROM cand
    JOIN deg da ON da.node = pa
    JOIN deg db ON db.node = pb
    ORDER BY nbr_jaccard DESC, pa, pb
    LIMIT {LINKPRED_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: the top co-purchase part
    pairs that are NOT yet connected but share neighbors (the
    'frequently bought with what you bought together' recommender
    primitive). Candidates come from the wedge join on a shared
    neighbor — only pairs with >= 1 common neighbor ever materialize
    (never all non-edges), the anti-join removes existing edges, and
    the support filter bounds degrees so wedge fan-out is Σ deg(n)²
    over the dimension-sized graph (a hub-heavy graph would cap
    neighbor lists first, the same dial as the LSH band cap)."""
    edges = _basket_edges(spark, sf_dir).select("u", "v")
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("pa"), F.col("b.node").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = common.join(
        F.broadcast(edges),
        (F.col("pa") == F.col("u")) & (F.col("pb") == F.col("v")),
        "left_anti",
    )
    da = F.broadcast(deg.select(F.col("node").alias("pa"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("pb"), F.col("d").alias("db")))
    score = F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn"))
    return (
        cand.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(score, 6).alias("nbr_jaccard"),
        )
        .orderBy(F.desc("nbr_jaccard"), "pa", "pb")
        .limit(LINKPRED_TOPK)
    )


# ---------------------------------------------------- k-core (fixed-round)

KCORE_K = 3       # minimum degree to survive a peel round
KCORE_ROUNDS = 4  # fixed peel rounds (both engines run exactly these)


def _kcore_oracle() -> str:
    """The peel loop UNROLLED into KCORE_ROUNDS chained CTE triples
    (degree → keep → surviving edges) — the same fixed-iteration
    technique as the PageRank and MMR oracles, generated by a Python
    loop so Spark and DuckDB provably run the identical rounds."""
    parts = [
        f"WITH {_EDGE_SQL},\n"
        "    sym0 AS (SELECT u, v FROM e"
        " UNION ALL SELECT v AS u, u AS v FROM e)"
    ]
    for r in range(KCORE_ROUNDS):
        parts.append(
            f""",
    deg{r} AS (SELECT u AS node, COUNT(*) AS d FROM sym{r} GROUP BY 1),
    keep{r} AS (SELECT node FROM deg{r} WHERE d >= {KCORE_K}),
    sym{r + 1} AS (
        SELECT s.u, s.v FROM sym{r} s
        JOIN keep{r} ku ON ku.node = s.u
        JOIN keep{r} kv ON kv.node = s.v)"""
        )
    parts.append(
        f"""
    SELECT u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM sym{KCORE_ROUNDS} GROUP BY 1"""
    )
    return "".join(parts)


@corpus_query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the co-purchase graph by FIXED-ROUND peeling:
    {KCORE_ROUNDS} rounds of "drop every node with degree < {KCORE_K},
    then re-count" over the symmetrized support-filtered edge set,
    reporting each survivor with its degree inside the peeled subgraph.
    Fixing the round count (rather than iterating to convergence) is the
    same determinism technique as the PageRank fixed-point: both engines
    run EXACTLY the same rounds, so the result is comparable even when
    the peel has not yet converged — when it has (as on this graph), the
    output is the true {KCORE_K}-core. The dense-cohesion complement to
    graph_triangles' local closure counts.

    Scale shape: each round is ONE map-side-combinable degree aggregate
    plus two equi-joins of the edge frame against the shrinking survivor
    node list — no pairwise stage, no window, no collect. Survivor lists
    are broadcast (bounded by the support-filtered node domain, the same
    argument as the triangle joins; on a data-sized graph swap them for
    shuffle joins — the round structure is unchanged). ``localCheckpoint``
    cuts each round's lineage exactly as in operators/graph.py: the
    survivor frame is referenced twice per round (degree count + edge
    filter), so an uncut plan re-evaluates the base 2^rounds times.
    The loop lives in operators/graph.py::kcore_peel (reusable on any
    edge frame; edge-amplified scale evidence in SCALE.md)."""
    from ..operators.graph import kcore_peel

    edges = _basket_edges(spark, sf_dir).select("u", "v")
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS).select(
        F.col("node").alias("p_partkey"), "core_degree"
    )


# ----------------------------------------- label propagation (fixed-round)

LPA_ROUNDS = 3  # fixed synchronous rounds (both engines run exactly these)


def _lpa_oracle() -> str:
    """Synchronous LPA unrolled CTE-per-round: each node adopts the MODE
    of its neighbors' labels (tie -> smallest label), starting from
    label = own id. Python-generated so the round count and tie-break
    are provably identical in both engines."""
    parts = [
        f"WITH {_EDGE_SQL},\n"
        "    sym AS (SELECT u, v FROM e"
        " UNION ALL SELECT v AS u, u AS v FROM e),\n"
        "    lab0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)"
    ]
    for r in range(LPA_ROUNDS):
        parts.append(
            f""",
    nl{r} AS (SELECT s.v AS node, l.lbl
              FROM sym s JOIN lab{r} l ON l.node = s.u),
    cnt{r} AS (SELECT node, lbl, COUNT(*) AS c FROM nl{r} GROUP BY 1, 2),
    lab{r + 1} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl, ROW_NUMBER() OVER (
                PARTITION BY node ORDER BY c DESC, lbl ASC) AS rk
            FROM cnt{r}) t
        WHERE rk = 1)"""
        )
    parts.append(
        f"""
    SELECT node AS p_partkey, lbl AS community FROM lab{LPA_ROUNDS}"""
    )
    return "".join(parts)


@corpus_query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation, fixed at
    {LPA_ROUNDS} rounds: every node starts as its own label and each
    round adopts the most frequent label among its neighbors (ties to
    the smallest label — a strict deterministic rule, where textbook LPA
    breaks ties randomly and is irreproducible). Fixing the round count
    is the PageRank/k-core determinism technique; synchronous updates
    (all nodes read round r, write round r+1) make the result
    partition-order-independent. Completes the graph family: global
    importance (pagerank), local cohesion (triangles), dense subgraphs
    (k-core), link prediction, transitive closure (dedup_clusters) —
    and now mesoscale communities.

    Scale shape: each round is ONE edge-sized equi-join (neighbor label
    gather) + a map-combinable (node, label) count + a max_by aggregate
    — the per-node mode needs no window and no sort, and the label
    frame is node-sized. ``localCheckpoint`` per round cuts lineage
    exactly as in the k-core peel. The oracle's ROW_NUMBER mirror of
    max_by is windowed per node (n_nodes partitions — parallel, not a
    funnel). The loop lives in operators/graph.py::label_propagation
    (reusable on any edge frame; edge-amplified scale evidence in
    SCALE.md)."""
    from ..operators.graph import label_propagation

    edges = _basket_edges(spark, sf_dir).select("u", "v")
    return label_propagation(edges, rounds=LPA_ROUNDS).select(
        F.col("node").alias("p_partkey"), "community"
    )


# ------------------------------------------------ bounded BFS distances

BFS_SEED_MOD = 100   # seeds = graph nodes with partkey % this == 0
BFS_ROUNDS = 3       # fixed frontier rounds (both engines run exactly these)


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE
    {_EDGE_SQL},
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    walk(node, d) AS (
        SELECT node, 0 FROM nodes WHERE node % {BFS_SEED_MOD} = 0
        UNION ALL
        SELECT s.v, w.d + 1
        FROM walk w JOIN sym s ON s.u = w.node
        WHERE w.d < {BFS_ROUNDS}
    )
    SELECT CAST(node AS BIGINT) AS p_partkey,
           CAST(MIN(d) AS BIGINT) AS distance
    FROM walk GROUP BY node
    """


@corpus_query("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS: hop distance (<= {BFS_ROUNDS}) from the
    deterministic seed set (partkey % {BFS_SEED_MOD} == 0) over the
    symmetrized co-purchase graph — the reachability / influence-radius
    query behind recall expansion and contamination-spread analysis, the
    fourth member of the fixed-round iterative family (PageRank power
    iteration, k-core peel, label propagation, now frontier expansion).
    Fixed rounds keep both engines bit-comparable (the PageRank
    determinism technique); unreached nodes are absent, not NULL.

    Scale shape per round: ONE equi-join of the current distance frame
    against the edge list (shuffle keyed on the node id) + a
    map-combinable min aggregate; the distance frame is node-sized and
    localCheckpoint'd per round (lineage cut, the kcore discipline).
    Integer distances end to end. The oracle replays the identical
    rounds as a depth-limited recursive CTE."""
    from ..operators.graph import bfs_distances

    edges = _basket_edges(spark, sf_dir).select("u", "v")
    dist = bfs_distances(edges, seed_mod=BFS_SEED_MOD, rounds=BFS_ROUNDS)
    return dist.select(
        F.col("node").cast("bigint").alias("p_partkey"),
        F.col("d").cast("bigint").alias("distance"),
    )


# --------------------------------------------------- two-hop reach (r10)

TWO_HOP_HUB_CAP = 10  # max degree of a MIDDLE node (production lever;
# deliberately tight at oracle scale so the prune path is exercised:
# sf0.01 basket degrees reach 13 with p99 = 10, so the cap genuinely
# drops the top percentile of middles there)


@corpus_query(
    "graph_two_hop_reach",
    oracle=f"""
    WITH {_EDGE_SQL},
    adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM adj GROUP BY 1),
    mid AS (SELECT node FROM deg WHERE d <= {TWO_HOP_HUB_CAP}),
    two AS (
        SELECT a.u AS u, b.v AS v
        FROM adj a
        JOIN mid m ON m.node = a.v
        JOIN adj b ON b.u = a.v
        WHERE b.v <> a.u
    ),
    reach AS (SELECT u, v FROM adj UNION SELECT u, v FROM two)
    SELECT r.u AS p_partkey,
           CAST(d.d AS BIGINT) AS n_1hop,
           COUNT(*) AS n_reach2
    FROM reach r JOIN deg d ON d.node = r.u
    GROUP BY r.u, d.d
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size per node (friends-of-friends reach) on
    the co-purchase graph, through middles whose degree is <=
    {TWO_HOP_HUB_CAP}: n_reach2 = distinct nodes within 2 hops
    (excluding self), n_1hop = degree. The local-expansion statistic
    behind recommendation-candidate pools and influence estimates —
    [graph_triangles] counts CLOSED wedges, this counts the OPEN
    frontier.

    The hub cap is the scale contract: raw wedge fan-out is
    sum-over-middles of deg(w)^2 (a power-law hub makes it quadratic);
    capping the MIDDLE bounds it by cap x 2m while leaving hub nodes
    fully present as ENDPOINTS, so their own reach is still reported —
    the standard neighborhood-sampling compromise, mirrored exactly in
    the oracle (same cap constant, same middle-only application).

    Plan shape: one self-equi-join of the bidirectional adjacency on
    the middle key (hash join, no cartesian), a semi-filter against the
    capped-degree frame, then count_distinct(v) per endpoint — Spark
    plans that as a (u, v) dedup UNDER u-partitioning, i.e. ONE
    exchange of the reach set (r12, guide §2.4; the previous
    distinct-then-groupBy shape paid an (u, v) exchange AND a second
    u exchange for the count). Every shuffle keyed on node ids. The
    pooled basket edge frame is shared with the triangle/basket
    family."""
    edges = _basket_edges(spark, sf_dir).select("u", "v")
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    mid = deg.filter(F.col("d") <= TWO_HOP_HUB_CAP).select(
        F.col("node").alias("mid_node")
    )
    a = adj.alias("a")
    b = adj.alias("b")
    two = (
        a.join(mid, F.col("a.v") == F.col("mid_node"))
        .join(b, F.col("b.u") == F.col("a.v"))
        .filter(F.col("b.v") != F.col("a.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
    )
    reach = adj.select("u", "v").unionByName(two)
    return (
        reach.groupBy("u")
        .agg(F.count_distinct(F.col("v")).alias("n_reach2"))
        .join(deg, F.col("u") == F.col("node"))
        .select(
            F.col("u").cast("bigint").alias("p_partkey"),
            F.col("d").cast("bigint").alias("n_1hop"),
            "n_reach2",
        )
    )
