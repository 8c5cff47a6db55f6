"""Fixed-round iterative graph operators over an arbitrary edge frame:
PageRank, k-core peel, label propagation and bounded BFS.

Extracted from plans/queries_graph.py so the iterative cores are
reusable on any edge set. PageRank is unit-tested against a pure-Python
reference (tests/test_graph.py::test_pagerank_operator_matches_python_reference)
on random graphs with dangling nodes and duplicate edges — shapes the
corpus tables don't necessarily hit.

See queries_graph.py's module docstring for the two load-bearing design
decisions (fixed iteration count; scaled-BIGINT arithmetic) and why they
make an iterative algorithm bit-reproducible across engines and cluster
sizes. Scale mechanics: each operator has one execution path. The
loop-invariant frames (edge degrees, dangling flags, the symmetrized
edge frame) are hoisted and cut once, and every round ends in a LAZY
``localCheckpoint`` (r12): the plan is truncated and the RDD persisted
on first materialization, so the whole loop runs inside the caller's
single action instead of one driver-blocking job per round (swap for
``checkpoint`` + an HDFS dir on a real cluster for fault tolerance).
PageRank broadcasts its node-sized rank vector into the edge join while
the node count is at most ``BROADCAST_MAX_NODES`` (r13), so the edge
side is never shuffled; above it each round is one shuffle join + one
aggregate. Dangling mass is a flag-filtered 1-row aggregate broadcast
back — no driver round-trip inside the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# SCALE.md r13: broadcast rounds win at 16k nodes and lose at 1.6M; 250k
# (~4 MB of (long, long) state per round) sits well under the crossover.
BROADCAST_MAX_NODES = 250_000


def _broadcast_node_state(n_nodes: int) -> bool:
    """Whether the node-sized per-round state is small enough to
    broadcast (r13 dispatch on the already-counted node total)."""
    return 0 < n_nodes <= BROADCAST_MAX_NODES


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    n_iters: int,
    scale: int,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, r) after ``n_iters`` damped rounds; ranks are BIGINTs that
    sum to ~``scale``. Duplicate edges are collapsed (set semantics, the
    convention of the corpus query and its oracle).

    Round placement (r13): while the node count is at most
    ``BROADCAST_MAX_NODES`` the per-round rank vector is BROADCAST into
    the edge join and the updated increments broadcast back into the
    node-frame join — one exchange per round (the map-combined partial
    sums) and no edge-side shuffle. Above the ceiling both joins
    shuffle. Results are bit-identical either way (integer sums are
    placement-invariant)."""
    base_num = (scale * (damp_den - damp_num)) // damp_den
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # EMPTY graph: no nodes means no ranks — and every per-node
        # constant below divides by n_nodes (a plain Python
        # ZeroDivisionError, found by tools/corpus_fuzz.py
        # --crush-rows 0 emptying the edge-source table). The recursive
        # -CTE oracle agrees: empty edges -> empty fixpoint.
        return nodes.select("node", F.lit(None).cast("bigint").alias("r"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # LAZY checkpoints from here down (r12): every round's plan is still
    # truncated at the checkpoint and persisted on first materialization
    # (so the two per-round consumers — the inc join and the dang
    # aggregate — still evaluate it once), but the whole loop runs
    # inside the caller's single action. Bit-identical output (integer
    # arithmetic is partitioning-invariant).
    edges_deg = e.join(deg, "src").localCheckpoint(eager=False)
    nodes_flag = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", F.col("deg").isNull().alias("dangling"))
        .localCheckpoint(eager=False)
    )

    # r13: when the NODE state fits a broadcast (n_nodes is already
    # counted — no extra job), ship the rank vector to the edges each
    # round instead of shuffling both sides: the edge-sized exchange
    # AND the node-frame exchanges of the rank-update join disappear —
    # per round ONE exchange (the map-combined partial sums of inc)
    # instead of up to four. Parity pinned in tests/test_graph.py.
    bcast_state = _broadcast_node_state(n_nodes)

    # initial ranks are nodes_flag + one literal — deriving them on the
    # fly is free; a dedicated checkpoint of that frame bought nothing
    ranks = nodes_flag.withColumn("r", F.lit(scale // n_nodes))
    for _ in range(n_iters):
        r_src = ranks.select(F.col("node").alias("src"), "r")
        inc = (
            edges_deg.join(F.broadcast(r_src) if bcast_state else r_src, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div deg")).alias("s"))
        )
        dang = ranks.filter(F.col("dangling")).agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("dang")
        )
        ranks = (
            nodes_flag.crossJoin(F.broadcast(dang))
            .join(F.broadcast(inc) if bcast_state else inc, "node", "left")
            .select(
                "node",
                "dangling",
                F.expr(
                    f"{base_num // n_nodes}"
                    f" + ({damp_num} * (coalesce(s, 0)"
                    f" + dang div {n_nodes})) div {damp_den}"
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "r")


def kcore_peel(edges: DataFrame, *, k: int, rounds: int) -> DataFrame:
    """``(node, core_degree)`` after ``rounds`` fixed peel rounds of
    "drop nodes with degree < k" over the symmetrized undirected edge
    frame ``(u, v)``. Fixed-round (not to-convergence) for the same
    determinism reason as :func:`pagerank_fixed_point`; when the peel
    has converged the output is the true k-core. ``localCheckpoint``
    per round: the survivor frame is referenced twice per round (degree
    count + edge filter), so an uncut plan re-evaluates the base
    2^rounds times. The survivor list is a support-filtered node domain
    and is broadcast into both per-round filters. Known residual
    (measured: SCALE.md k-core tables' pass-2 degradation): superseded
    rounds' checkpoint BLOCKS stay resident until the ContextCleaner GCs
    the dropped RDDs (``unpersist()`` does not reclaim localCheckpoint
    storage), so repeated same-session invocations accumulate
    pressure."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        # checkpoint the survivor list ONCE per round: it feeds TWO
        # joins (src + dst filter), and uncut each join would re-run
        # the degree aggregate over the full edge frame — doubling
        # exactly the per-round cost this operator's scale model counts.
        # LAZY (r12): the cut + persist still dedup the two consumers;
        # materialization just rides the caller's one action instead of
        # a driver-blocking job per round (see pagerank_fixed_point).
        keep = (
            deg.filter(F.col("d") >= k).select("u").localCheckpoint(eager=False)
        )
        keep_v = keep.withColumnRenamed("u", "v")
        sym = (
            sym.join(F.broadcast(keep), "u")
            .join(F.broadcast(keep_v), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def label_propagation(edges: DataFrame, *, rounds: int) -> DataFrame:
    """``(node, community)`` after ``rounds`` synchronous label-
    propagation rounds over the symmetrized edge frame ``(u, v)``:
    label = own id initially; each round every node adopts the most
    frequent label among its neighbors, ties to the SMALLEST label (a
    strict deterministic rule where textbook LPA breaks ties randomly).
    Per round: one edge-sized equi-join + a map-combinable (node,
    label) count + a max_by aggregate — no window, no sort. The
    symmetrized edge frame is loop-invariant and cut once."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        nl = sym.join(labels.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"), "lbl"
        )
        cnt = nl.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max_by(
                    "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("t"))
                ).alias("lbl")
            )
            # LAZY lineage cut per round — see pagerank_fixed_point (r12)
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def bfs_distances(edges: DataFrame, *, seed_mod: int, rounds: int) -> DataFrame:
    """``(node, d)`` = min hop distance (<= ``rounds``) from the seed set
    (node % seed_mod == 0) over the symmetrized edge frame ``(u, v)``;
    unreached nodes are absent. Fixed synchronous frontier rounds (the
    family's determinism technique). Per round: one equi-join of the
    node-sized distance frame against the loop-invariant symmetrized
    edges (cut once) + a map-combinable min aggregate; lineage cut per
    round."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    dist = nodes.filter(F.col("node") % seed_mod == 0).select(
        "node", F.lit(0).cast("bigint").alias("d")
    )
    for _ in range(rounds):
        hop = dist.join(sym, dist.node == sym.u).select(
            F.col("v").alias("node"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            # LAZY lineage cut per round — see pagerank_fixed_point (r12)
            .localCheckpoint(eager=False)
        )
    return dist


def pagerank_reference(
    edge_list: list[tuple[int, int]],
    *,
    n_iters: int,
    scale: int,
    damp_num: int = 85,
    damp_den: int = 100,
) -> dict[int, int]:
    """Pure-Python single-threaded reference of the SAME fixed-point
    recurrence (for differential tests — every operation an int op, so
    it must match the distributed result bit-for-bit)."""
    eset = sorted(set(edge_list))
    nodes = sorted({n for ed in eset for n in ed})
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for s, d in eset:
        out.setdefault(s, []).append(d)
    base = (scale * (damp_den - damp_num)) // damp_den // n
    r = {v: scale // n for v in nodes}
    for _ in range(n_iters):
        inc = {v: 0 for v in nodes}
        dang = 0
        for v in nodes:
            targets = out.get(v)
            if not targets:
                dang += r[v]
                continue
            c = r[v] // len(targets)
            for d in targets:
                inc[d] += c
        r = {
            v: base + (damp_num * (inc[v] + dang // n)) // damp_den
            for v in nodes
        }
    return r
