"""Fixed-point PageRank over an arbitrary edge frame.

Extracted from plans/queries_graph.py so the iterative core is reusable
on any (src, dst) edge set and unit-testable against a pure-Python
reference (tests/test_graph_reference.py) on random graphs with
dangling nodes and duplicate edges — shapes the corpus tables don't
necessarily hit.

See queries_graph.py's module docstring for the two load-bearing design
decisions (fixed iteration count; scaled-BIGINT arithmetic) and why they
make an iterative algorithm bit-reproducible across engines and cluster
sizes. Scale mechanics: per round ONE data-sized shuffle join + one
aggregate; loop-invariant frames (edge degrees, dangling flags) hoisted
and checkpointed once; dangling mass is a flag-filtered 1-row aggregate
broadcast back — no driver round-trip inside the loop. ``localCheckpoint``
cuts lineage per round (swap for ``checkpoint`` + an HDFS dir on a real
cluster for fault tolerance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _broadcast_node_state(
    n_nodes: int, edge_partitions: int | None, edges_pre_bucketed: bool
) -> bool:
    """r13 dispatch: broadcast the node-sized per-round state while it
    fits (config.graph_broadcast_max_nodes, default 250k rows —
    measured crossover, see config.py) and the
    caller did not pick an explicit SMJ placement (co-partitioned /
    bucketed modes exist precisely for the regime where node state does
    NOT broadcast)."""
    from ..config import graph_broadcast_max_nodes

    return (
        edge_partitions is None
        and not edges_pre_bucketed
        and 0 < n_nodes <= graph_broadcast_max_nodes()
    )


def _pin_loop_invariant(
    df: DataFrame, key: str, partitions: int | None
) -> tuple[DataFrame, bool]:
    """Prepare a LOOP-INVARIANT join frame for an iterative algorithm.

    ``partitions`` set: co-partitioned mode — cache it pre-partitioned
    and pre-sorted on ``key`` (an ``InMemoryRelation`` preserves
    Catalyst partitioning/ordering, so every round's SortMergeJoin
    skips the exchange AND the sort on this side; a ``localCheckpoint``
    scan reports UnknownPartitioning under AQE and re-pays both every
    round — probed r8, SCALE.md "PageRank co-partitioning experiment").
    Otherwise: an eager localCheckpoint (the default; faster at
    round-latency-floor scale where the cache build does not pay).

    Returns ``(frame, persisted)``; a persisted frame must be
    ``unpersist()``-ed by the caller once the loop's outputs no longer
    reference it (every round's result is checkpoint-backed)."""
    if partitions:
        out = (
            df.repartition(partitions, key)
            .sortWithinPartitions(key)
            .persist()
        )
        out.count()  # materialize once, before the rounds
        return out, True
    # LAZY localCheckpoint (r12, guide §1.2): the plan is truncated and
    # the RDD persisted exactly as with eager=True, but materialization
    # happens inside the caller's ONE action instead of a dedicated
    # driver-blocking job here — same lineage cut, same single
    # evaluation (persist dedups the two per-round consumers), ~12%
    # faster pagerank at sf0.1, and on a cluster the scheduler can
    # overlap the materialization with downstream stages instead of
    # fencing on it.
    return df.localCheckpoint(eager=False), False


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    n_iters: int,
    scale: int,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    edge_partitions: int | None = None,
    edges_pre_bucketed: bool = False,
) -> DataFrame:
    """(node, r) after ``n_iters`` damped rounds; ranks are BIGINTs that
    sum to ~``scale``. Duplicate edges are collapsed (set semantics, the
    convention of the corpus query and its oracle).

    Default-path round placement (r13): while the node count is under
    ``config.graph_broadcast_max_nodes()`` the per-round rank vector is
    BROADCAST into the edge join and the updated increments broadcast
    back into the node-frame join — one exchange per round (the
    map-combined partial sums) and no edge-side shuffle, without
    building the co-partitioned cache. Above the ceiling the operator
    keeps the shuffle path and the two explicit placements below are
    the documented levers.

    ``edge_partitions``: co-partitioned mode, the GraphX/100-TB-cluster
    idiom. The loop-invariant edge frame is CACHED pre-partitioned and
    pre-sorted on ``src`` — an ``InMemoryRelation`` preserves Catalyst
    output partitioning/ordering where ``localCheckpoint``'s RDD scan
    reports UnknownPartitioning (probed r8: under AQE every round was
    re-exchanging AND re-sorting the edge-sized side). With it, each
    round's join exchanges only the node-sized rank frame; the edge
    side is scanned in place. Results are bit-identical either way
    (same computation, different physical placement); measured in
    SCALE.md "PageRank co-partitioning experiment".

    ``edges_pre_bucketed``: STORAGE-partitioned mode — the durable twin
    of ``edge_partitions`` for frames too big to cache. Caller contract:
    ``edges`` was read by name from a bucketed table
    (``sources/bucketing.py``) whose bucket key is the ``src`` column
    and whose rows are already DISTINCT. The operator then skips its
    own distinct+checkpoint normalization (either would destroy the
    scan's bucket distribution) and leaves the loop-invariant frame
    unpinned: every round re-scans the bucketed files — zero cache
    memory — and the bucket distribution still elides the edge-side
    exchange, because the one shuffle happened at WRITE time. Measured
    in SCALE.md "PageRank over bucketed storage"."""
    if edges_pre_bucketed and edge_partitions:
        raise ValueError(
            "edge_partitions and edges_pre_bucketed are alternative"
            " placements of the same co-partitioning — pick one"
        )
    base_num = (scale * (damp_den - damp_num)) // damp_den
    if edges_pre_bucketed:
        # alias-only projection: ProjectExec preserves the scan's bucket
        # distribution through aliases; distinct is the caller's contract
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    else:
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
    if edges_pre_bucketed:
        # both sides of e⋈deg carry the bucket distribution (the groupBy
        # needed no exchange either) — leave the frame UNPINNED so each
        # round re-scans the bucketed files instead of holding an
        # edge-sized cache; the write-time shuffle is the only one
        edges_deg, pinned = e.join(deg, "src"), False
    else:
        # co-partition only when the loop will actually run — at
        # n_iters=0 the frame is never joined, the cache pure waste
        edges_deg, pinned = _pin_loop_invariant(
            e.join(deg, "src"), "src", edge_partitions if n_iters > 0 else None
        )
    # LAZY checkpoints from here down (r12): every round's plan is still
    # truncated at the checkpoint and persisted on first materialization
    # (so the two per-round consumers — the inc join and the dang
    # aggregate — still evaluate it once), but the whole loop now runs
    # inside the caller's single action instead of one driver-blocking
    # job per round. Bit-identical output (integer arithmetic is
    # partitioning-invariant).
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
    # instead of up to four, with no co-partitioned cache to build.
    # Size-gated (config.graph_broadcast_max_nodes, default 250k rows)
    # and only on the default path — see _broadcast_node_state. Results
    # are bit-identical (integer sums are placement-invariant; parity
    # pinned in tests/test_graph.py).
    bcast_state = _broadcast_node_state(
        n_nodes, edge_partitions, edges_pre_bucketed
    )

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
    if pinned:
        # materialize the final ranks BEFORE dropping the co-partitioned
        # cache (lazy rounds would otherwise re-derive every round's
        # join from the un-cached edge frame when the caller executes)
        ranks.count()
        edges_deg.unpersist()
    return ranks.select("node", "r")


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    rounds: int,
    broadcast_survivors: bool = True,
    edges_pre_bucketed: bool = False,
) -> DataFrame:
    """``(node, core_degree)`` after ``rounds`` fixed peel rounds of
    "drop nodes with degree < k" over the symmetrized undirected edge
    frame ``(u, v)``. Fixed-round (not to-convergence) for the same
    determinism reason as :func:`pagerank_fixed_point`; when the peel
    has converged the output is the true k-core. ``localCheckpoint``
    per round: the survivor frame is referenced twice per round (degree
    count + edge filter), so an uncut plan re-evaluates the base
    2^rounds times. Known residual (measured: SCALE.md k-core tables'
    pass-2 degradation): superseded rounds' checkpoint BLOCKS stay
    resident until the ContextCleaner GCs the dropped RDDs
    (``unpersist()`` does not reclaim localCheckpoint storage), so
    repeated same-session invocations accumulate pressure; the
    ``edges_pre_bucketed`` mode halves the volume by skipping the
    initial full-frame cut.

    ``broadcast_survivors``: the survivor list is a support-filtered
    NODE domain — broadcast-joining it (default) is right while it fits
    in executor memory, but at 100 TB a billion-node survivor set does
    not broadcast; ``False`` switches both per-round filters to shuffle
    SEMI-joins (identical results — the survivor key is unique by
    construction), the honest at-scale path (r8: an actual parameter,
    not just the docstring caveat it used to be).

    ``edges_pre_bucketed``: the peel's frame SHRINKS per round (not
    loop-invariant), so bucketed storage helps exactly ROUND 1 — the
    round over the largest frame: the caller passes the
    already-symmetrized frame read by name from a ``u``-bucketed table
    (the LPA/BFS contract) and the operator skips its own
    symmetrize+checkpoint; round 1's degree count and both survivor
    joins ride the bucket distribution, and rounds 2+ checkpoint the
    shrunken frame exactly as before."""
    if edges_pre_bucketed:
        sym = edges.select("u", "v")
    else:
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
        if broadcast_survivors:
            filtered = sym.join(F.broadcast(keep), "u").join(
                F.broadcast(keep_v), "v"
            )
        else:
            filtered = sym.join(keep, "u", "left_semi").join(
                keep_v, "v", "left_semi"
            )
        sym = filtered.select("u", "v").localCheckpoint(eager=False)
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int,
    edge_partitions: int | None = None,
    edges_pre_bucketed: bool = False,
) -> DataFrame:
    """``(node, community)`` after ``rounds`` synchronous label-
    propagation rounds over the symmetrized edge frame ``(u, v)``:
    label = own id initially; each round every node adopts the most
    frequent label among its neighbors, ties to the SMALLEST label (a
    strict deterministic rule where textbook LPA breaks ties randomly).
    Per round: one edge-sized equi-join + a map-combinable (node,
    label) count + a max_by aggregate — no window, no sort.

    ``edge_partitions``: co-partitioned mode, same rationale as
    :func:`pagerank_fixed_point` — the loop-invariant symmetrized edge
    frame is cached pre-partitioned/pre-sorted on the join key ``u``
    (localCheckpoint scans report UnknownPartitioning under AQE, so the
    default path re-exchanges the edge-sized side every round); only
    the node-sized label frame moves per round. Bit-identical output;
    measured in SCALE.md "Iterative co-partitioning, LPA/BFS".

    ``edges_pre_bucketed``: storage-partitioned mode (see
    :func:`pagerank_fixed_point`). Caller contract: ``edges`` was read
    by name from a bucketed table holding the ALREADY-SYMMETRIZED frame
    (both (u, v) and (v, u) rows, duplicates preserved — they carry
    neighbor-count weight in the label vote), bucketed (+sorted) on
    ``u``. The operator then skips its own symmetrize+pin: each round
    re-scans the bucketed files exchange-free with zero resident
    cache."""
    if edges_pre_bucketed and edge_partitions:
        raise ValueError(
            "edge_partitions and edges_pre_bucketed are alternative"
            " placements of the same co-partitioning — pick one"
        )
    if edges_pre_bucketed:
        sym, pinned = edges.select("u", "v"), False
    else:
        sym, pinned = _pin_loop_invariant(
            edges.unionAll(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
            "u",
            # rounds=0 returns labels derived straight from sym — only
            # pin (and later unpersist) when the loop actually runs
            edge_partitions if rounds > 0 else None,
        )
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
    if pinned:
        labels.count()  # materialize before dropping the pinned cache
        sym.unpersist()
    return labels.select("node", F.col("lbl").alias("community"))


def bfs_distances(
    edges: DataFrame,
    *,
    seed_mod: int,
    rounds: int,
    edge_partitions: int | None = None,
    edges_pre_bucketed: bool = False,
) -> DataFrame:
    """``(node, d)`` = min hop distance (<= ``rounds``) from the seed set
    (node % seed_mod == 0) over the symmetrized edge frame ``(u, v)``;
    unreached nodes are absent. Fixed synchronous frontier rounds (the
    family's determinism technique). Per round: one equi-join of the
    node-sized distance frame against the edges + a map-combinable min
    aggregate; lineage cut per round.

    ``edge_partitions``: co-partitioned mode — cache the loop-invariant
    symmetrized edge frame pre-partitioned/pre-sorted on the join key
    ``u`` so only the frontier moves per round (see
    :func:`pagerank_fixed_point`); bit-identical output.

    ``edges_pre_bucketed``: storage-partitioned mode — caller passes
    the ALREADY-SYMMETRIZED frame read by name from a bucketed table
    (bucket key ``u``); the operator skips its own symmetrize+pin and
    each round re-scans the bucketed files exchange-free (duplicate
    edges are harmless here: the aggregate is MIN)."""
    if edges_pre_bucketed and edge_partitions:
        raise ValueError(
            "edge_partitions and edges_pre_bucketed are alternative"
            " placements of the same co-partitioning — pick one"
        )
    if edges_pre_bucketed:
        sym, pinned = edges.select("u", "v"), False
    else:
        sym, pinned = _pin_loop_invariant(
            edges.unionAll(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
            "u",
            # rounds=0 returns seed distances derived straight from sym
            # — only pin (and later unpersist) when the loop runs
            edge_partitions if rounds > 0 else None,
        )
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
    if pinned:
        dist.count()  # materialize before dropping the pinned cache
        sym.unpersist()
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
