"""Operator-level differential tests against pandas on seeded random data
(SURVEY §5.3 'unit tests per operator family'): the generic operators must
agree with their reference pandas formulations on inputs with ties,
nulls, and empty groups — shapes the corpus tables don't necessarily hit."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.operators.asof import asof_join
from project_crypto_data_engineering_gcp_spark.operators.latest import latest_snapshot
from project_crypto_data_engineering_gcp_spark.operators.share import (
    with_share_of_total,
)

RNG = np.random.default_rng(20260813)


def _events_frame(n: int, n_keys: int, with_dup_ts: bool) -> pd.DataFrame:
    ts = RNG.integers(0, 1_000, size=n)
    if with_dup_ts:
        ts = ts // 10 * 10  # force ties
    return pd.DataFrame(
        {
            "key": RNG.integers(0, n_keys, size=n).astype("int64"),
            "ts": ts.astype("int64"),
            "seq": np.arange(n, dtype="int64"),
            "val": np.round(RNG.normal(100, 20, size=n), 2),
        }
    )


@pytest.mark.parametrize("with_dup_ts", [False, True])
def test_latest_snapshot_matches_pandas_argmax(spark, with_dup_ts):
    pdf = _events_frame(500, 37, with_dup_ts)
    df = spark.createDataFrame(pdf)
    got = (
        latest_snapshot(df, ["key"], "ts", tiebreakers=["seq"])
        .orderBy("key")
        .toPandas()
    )
    exp = (
        pdf.sort_values(["key", "ts", "seq"])
        .groupby("key", as_index=False)
        .last()
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["key", "ts", "seq", "val"]], exp[["key", "ts", "seq", "val"]]
    )


def test_asof_join_matches_merge_asof(spark):
    left = _events_frame(400, 23, with_dup_ts=False).rename(columns={"ts": "lts"})
    right = _events_frame(300, 23, with_dup_ts=False)[
        ["key", "ts", "val"]
    ].drop_duplicates(["key", "ts"])
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right.rename(columns={"ts": "rts", "val": "rval"}))
    got = (
        asof_join(
            ldf, rdf, on=["key"], left_ts="lts", right_ts="rts",
            payload=["rval", "rts"],
        )
        .orderBy("seq")
        .toPandas()
    )
    exp = pd.merge_asof(
        left.sort_values("lts", kind="mergesort"),
        right.sort_values("ts", kind="mergesort").rename(
            columns={"ts": "rts_e", "val": "rval_e"}
        ),
        left_on="lts",
        right_on="rts_e",
        by="key",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("seq").reset_index(drop=True)
    assert len(got) == len(exp)
    assert (
        got["rval_asof"].fillna(-1).to_numpy()
        == exp["rval_e"].fillna(-1).to_numpy()
    ).all()
    assert (
        got["rts_asof"].fillna(-1).to_numpy()
        == exp["rts_e"].fillna(-1).to_numpy()
    ).all()


def test_share_of_total_sums_to_100(spark):
    pdf = _events_frame(200, 11, with_dup_ts=False)
    pdf["val"] = np.abs(pdf["val"])
    df = spark.createDataFrame(pdf)
    got = with_share_of_total(df, "val", "pct", round_digits=8).toPandas()
    assert abs(got["pct"].sum() - 100.0) < 1e-4
    exp = pdf["val"] / pdf["val"].sum() * 100
    assert np.allclose(np.sort(got["pct"]), np.sort(np.round(exp, 8)), atol=1e-6)


def test_asof_join_deterministic_under_reference_ties(spark):
    """Duplicate reference timestamps: the greatest-tiebreaker row must
    win, and the result must be identical across shuffles/runs."""
    left = pd.DataFrame({"key": [1, 1, 2], "lts": [100, 200, 150], "seq": [0, 1, 2]})
    right = pd.DataFrame(
        {
            "key": [1, 1, 1, 2, 2],
            "rts": [100, 100, 150, 150, 150],
            "rid": [7, 9, 3, 5, 4],
            "rval": [70.0, 90.0, 30.0, 50.0, 40.0],
        }
    )
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    out = {
        r["seq"]: (r["rval_asof"], r["rid_asof"])
        for r in asof_join(
            ldf, rdf, on=["key"], left_ts="lts", right_ts="rts",
            payload=["rval", "rid"], right_tiebreakers=["rid"],
        ).collect()
    }
    # key=1 @100: ties (rid 7, 9) -> rid 9 wins; @200: rts 150 -> rid 3
    # key=2 @150: ties (rid 5, 4) -> rid 5 wins
    assert out[0] == (90.0, 9)
    assert out[1] == (30.0, 3)
    assert out[2] == (50.0, 5)


def test_minhash_hot_band_cap_is_precision_preserving(spark):
    """The production hot-band cap only removes CANDIDATES (surviving
    pairs still pass the exact jaccard verify): capped output must be a
    subset of the exact output, a no-op cap must change nothing, and a
    tiny cap must actually drop fan-out."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
        dedup_minhash_lsh,
    )

    from .conftest import SF_SMOKE

    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    nocap = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_minhash_lsh(spark, SF_SMOKE, hot_band_cap=10**9).collect()
    }
    assert nocap == exact
    capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_minhash_lsh(spark, SF_SMOKE, hot_band_cap=2).collect()
    }
    assert capped <= exact


def test_ngram_stop_shingle_cap_drops_hot_fanout(spark):
    """The stop-shingle df-cap drops the hot inverted-index postings
    before the self-join; a no-op cap reproduces the exact result and a
    small cap changes the (documented) capped-universe semantics without
    breaking the schema."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
        dedup_ngram_jaccard,
    )

    from .conftest import SF_SMOKE

    exact_df = dedup_ngram_jaccard(spark, SF_SMOKE)
    exact = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in exact_df.collect()}
    nocap = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(
            spark, SF_SMOKE, stop_shingle_df_cap=10**9
        ).collect()
    }
    assert nocap == exact
    capped_df = dedup_ngram_jaccard(spark, SF_SMOKE, stop_shingle_df_cap=2)
    assert capped_df.columns == exact_df.columns
    assert capped_df.count() >= 0  # runs; capped-universe scores differ by design


def test_shingle_memo_bounded_unpersists_on_evict(spark):
    """The shared shingle cache holds AT MOST one live entry: requesting a
    second (sf_dir, k) key evicts and UNPERSISTS the first, so a
    long-lived driver serving many datasets can't accumulate persisted
    frames (executor storage-memory creep)."""
    from pyspark import StorageLevel

    from project_crypto_data_engineering_gcp_spark.plans import queries_dedup as qd

    from .conftest import SF_ORACLE, SF_SMOKE

    saved = dict(qd._SHINGLE_MEMO)
    qd._SHINGLE_MEMO.clear()
    try:
        first = qd._shared_shingle_frame(spark, SF_SMOKE, 3)
        first.count()
        assert first.storageLevel != StorageLevel.NONE
        second = qd._shared_shingle_frame(spark, SF_ORACLE, 3)
        assert len(qd._SHINGLE_MEMO) == 1
        assert first.storageLevel == StorageLevel.NONE, "evicted frame still persisted"
        # the survivor is the most recent key and still cache-marked
        ((_, sf_dir, _),) = qd._SHINGLE_MEMO
        assert sf_dir == SF_ORACLE
        assert second.storageLevel != StorageLevel.NONE
    finally:
        for df in qd._SHINGLE_MEMO.values():
            df.unpersist()
        qd._SHINGLE_MEMO.clear()
        qd._SHINGLE_MEMO.update(saved)


def test_minhash_derived_pools_bounded(spark):
    """The signature and candidate pools hold at most one live frame
    each, and the capped/uncapped candidate variants share the pool by
    evicting (not accumulating): after running both minhash shapes, at
    most one cand frame is persisted."""
    from project_crypto_data_engineering_gcp_spark.plans import queries_dedup as qd

    from .conftest import SF_SMOKE

    for m in (qd._SIGS_MEMO, qd._CAND_MEMO):
        for df in m.values():
            df.unpersist()
        m.clear()
    qd.dedup_minhash_lsh(spark, SF_SMOKE).count()
    qd.dedup_minhash_lsh_capped(spark, SF_SMOKE).count()
    assert len(qd._SIGS_MEMO) == 1
    assert len(qd._CAND_MEMO) == 1
    ((_, _, cap),) = qd._CAND_MEMO
    assert cap == qd.HOT_BAND_CAP  # latest variant won the single slot


def test_streaming_snapshot_datasource_repeat_drain_deterministic(spark):
    """The DataSource stream-drain corpus query must be repeat-call
    deterministic: each call gets a FRESH checkpoint (full re-drain) and
    replaces the memory-sink table, so two calls in one session return
    identical frames — the property the driver's oracle comparison
    relies on when it executes the query after other corpus queries."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_crypto import (
        streaming_snapshot_datasource,
    )

    a = streaming_snapshot_datasource(spark, "unused")
    rows_a = sorted(map(tuple, a.collect()))
    b = streaming_snapshot_datasource(spark, "unused")
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) > 0


def test_semantic_cluster_cap_is_candidate_only(spark):
    """The per-cluster population cap only removes CANDIDATES: capped
    output is a strict subset of the uncapped output with identical
    scores on surviving pairs, and a cap above every cluster's population
    reproduces the uncapped result exactly."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        dedup_semantic_blocked,
    )

    from .conftest import SF_SMOKE

    def pairs(df):
        return {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in df.collect()}

    uncapped = pairs(dedup_semantic_blocked(spark, SF_SMOKE))
    nocap = pairs(dedup_semantic_blocked(spark, SF_SMOKE, cluster_cap=10**9))
    assert nocap == uncapped
    capped = pairs(dedup_semantic_blocked(spark, SF_SMOKE, cluster_cap=8))
    assert capped <= uncapped  # candidates pruned, survivors score identically


def test_minhash_pool_hit_runs_no_jobs(spark):
    """Materialization happens at pool-BUILD time only: a repeat
    dedup_minhash_lsh call whose intermediates are all pool hits must not
    run a single Spark job (the r3 shape ran three eager counts per call,
    ~0.1-0.2 s of fixed overhead on every repeat)."""
    from project_crypto_data_engineering_gcp_spark.plans import queries_dedup as qd

    from .conftest import SF_SMOKE

    qd.dedup_minhash_lsh(spark, SF_SMOKE)  # populate pools (jobs expected)
    sc = spark.sparkContext
    group = "pool-hit-no-jobs-check"
    sc.setJobGroup(group, "repeat call must be action-free")
    try:
        qd.dedup_minhash_lsh(spark, SF_SMOKE)  # pure pool hits
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs == [], f"pool hit ran Spark jobs: {jobs}"


def test_bounded_cached_true_lru():
    """Hits refresh recency: with max_size=2, touching the older entry
    makes the OTHER one the eviction victim (r3's popitem() evicted the
    newest instead — latent until a pool is sized above 1)."""
    from project_crypto_data_engineering_gcp_spark.plans.pooling import bounded_cached

    from pyspark.storagelevel import StorageLevel

    class FakeFrame:
        def __init__(self):
            self.persisted = True

        @property
        def storageLevel(self):
            return (
                StorageLevel.MEMORY_AND_DISK if self.persisted else StorageLevel.NONE
            )

        def unpersist(self):
            self.persisted = False
            return self

    memo: dict = {}
    a = bounded_cached(memo, "a", FakeFrame, max_size=2)
    b = bounded_cached(memo, "b", FakeFrame, max_size=2)
    assert bounded_cached(memo, "a", FakeFrame, max_size=2) is a  # hit refreshes
    c = bounded_cached(memo, "c", FakeFrame, max_size=2)
    assert not b.persisted, "LRU entry (b) should have been evicted"
    assert a.persisted and c.persisted
    assert set(memo) == {"a", "c"}
    # an EXTERNALLY unpersisted entry (session clearCache) is a miss:
    # the stale handle is replaced by a freshly built frame
    a.persisted = False
    a2 = bounded_cached(memo, "a", FakeFrame, max_size=2)
    assert a2 is not a and a2.persisted


def test_index_paths_distinct_for_equal_basenames(tmp_path):
    """Persisted IVF/PQ index paths must differ for two datasets whose
    directories share a basename (/a/sf0.1 vs /b/sf0.1) — deriving the
    path from basename alone silently serves one dataset's index for the
    other."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        _dataset_dirname,
    )

    d1 = _dataset_dirname(str(tmp_path / "a" / "sf0.1"))
    d2 = _dataset_dirname(str(tmp_path / "b" / "sf0.1"))
    assert d1 != d2
    assert _dataset_dirname(str(tmp_path / "a" / "sf0.1") + "/") == d1  # slash-stable


def test_asof_join_forward_tolerance_matches_merge_asof(spark):
    """direction='forward' + tolerance vs pandas merge_asof ground truth
    (same dedup'd reference frame; timestamps are float seconds here, so
    tolerance maps directly)."""
    left = _events_frame(400, 29, with_dup_ts=False).rename(columns={"ts": "lts"})
    right = _events_frame(300, 29, with_dup_ts=False)[
        ["key", "ts", "val"]
    ].drop_duplicates(["key", "ts"])
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right.rename(columns={"ts": "rts", "val": "rval"}))
    tol = 50
    got = (
        asof_join(
            ldf, rdf, on=["key"], left_ts="lts", right_ts="rts",
            payload=["rval", "rts"],
            direction="forward",
            tolerance_seconds=tol,
        )
        .orderBy("seq")
        .toPandas()
    )
    exp = pd.merge_asof(
        left.sort_values("lts", kind="mergesort"),
        right.sort_values("ts", kind="mergesort").rename(
            columns={"ts": "rts_e", "val": "rval_e"}
        ),
        left_on="lts",
        right_on="rts_e",
        by="key",
        direction="forward",
        allow_exact_matches=True,
        tolerance=tol,
    ).sort_values("seq").reset_index(drop=True)
    assert len(got) == len(exp)
    assert (
        got["rval_asof"].fillna(-1).to_numpy()
        == exp["rval_e"].fillna(-1).to_numpy()
    ).all()
    assert (
        got["rts_asof"].fillna(-1).to_numpy()
        == exp["rts_e"].fillna(-1).to_numpy()
    ).all()


def test_cosine_pairs_grid_equals_blockwise(spark):
    """The distributed block-grid all-pairs must emit exactly the closure
    fast path's pairs (same threshold, same rounded sims) for any block
    count — including n_blocks=1 (single tile) and a count larger than
    the row count (many empty tiles)."""
    from project_crypto_data_engineering_gcp_spark.operators.similarity import (
        cosine_pairs_blockwise,
        cosine_pairs_grid,
    )

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(60),
                "label": [i % 3 for i in range(60)],
                "embedding": [
                    rng.normal(0, 1, 16).astype(np.float32).tolist()
                    for _ in range(60)
                ],
            }
        ),
        "vec_id bigint, label int, embedding array<float>",
    )
    want = {tuple(r) for r in cosine_pairs_blockwise(emb, threshold=0.2).collect()}
    assert want  # non-vacuous
    for n_blocks in (1, 4, 97):
        got = {
            tuple(r)
            for r in cosine_pairs_grid(emb, threshold=0.2, n_blocks=n_blocks).collect()
        }
        assert got == want, n_blocks


def test_funnel_counts_monotone_and_bounded(spark):
    """Funnel invariants: stage counts never increase down the funnel
    (each stage requires entry to the previous), conversions sit in
    (0, 1], and stage 1 converts at exactly 1.0 by construction."""
    from project_crypto_data_engineering_gcp_spark.plans import all_queries

    from .conftest import SF_ORACLE

    rows = {
        r["stage"]: r
        for r in all_queries()["events_funnel_conversion"]
        .fn(spark, SF_ORACLE)
        .collect()
    }
    n1, n2, n3 = (
        rows["1_view"]["n_users"],
        rows["2_click"]["n_users"],
        rows["3_purchase"]["n_users"],
    )
    assert n1 >= n2 >= n3 > 0
    assert rows["1_view"]["conversion"] == 1.0
    for s in ("2_click", "3_purchase"):
        assert 0.0 < rows[s]["conversion"] <= 1.0


def test_retention_cohort_invariants(spark):
    """Cohort matrix invariants: week 0 retention is exactly 1.0 for
    every cohort, all retentions sit in (0, 1], offsets are
    non-negative, and no (cohort, offset) cell exceeds its cohort
    size."""
    from project_crypto_data_engineering_gcp_spark.plans import all_queries

    from .conftest import SF_ORACLE

    rows = (
        all_queries()["events_retention_cohorts"].fn(spark, SF_ORACLE).collect()
    )
    assert rows
    size0 = {
        r["cohort"]: r["n_active"] for r in rows if r["week_offset"] == 0
    }
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0.0 < r["retention"] <= 1.0
        assert r["n_active"] <= size0[r["cohort"]]
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0


def test_gini_diversity_bounds_and_extremes(spark):
    """Gini diversity (integer ppm) sits in [0, 1e6): 0 exactly for
    single-token docs (if any) and strictly below 1e6 always;
    n_distinct <= n_tokens."""
    from project_crypto_data_engineering_gcp_spark.plans import all_queries

    from .conftest import SF_ORACLE

    rows = all_queries()["text_token_diversity"].fn(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["gini_ppm"] < 1_000_000
        assert 1 <= r["n_distinct"] <= r["n_tokens"]
        if r["n_distinct"] == 1:
            assert r["gini_ppm"] == 0


def test_cumulative_distinct_monotone_and_consistent(spark):
    """w7 invariants: cum_users is non-decreasing, equals the running
    sum of n_new, and ends at the true total distinct user count;
    per-day n_new <= n_active."""
    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.plans import all_queries
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    rows = sorted(
        all_queries()["w7_cumulative_distinct_users"]
        .fn(spark, SF_ORACLE)
        .collect(),
        key=lambda r: r["day"],
    )
    run = 0
    for r in rows:
        run += r["n_new"]
        assert r["cum_users"] == run
        assert r["n_new"] <= r["n_active"]
    total = (
        load_table(spark, SF_ORACLE, "events")
        .agg(F.count_distinct("user_id"))
        .collect()[0][0]
    )
    assert rows[-1]["cum_users"] == total


def test_boilerplate_excision_invariants(spark):
    """text_boilerplate_ngrams semantic invariants at sf0.01:
    (a) cleaned token count + removed count == original token count,
    (b) kept tokens are an ordered subsequence of the original tokens,
    (c) at least one doc has removals (BOILER_DF is reachable) and at
    least one keeps text (no degenerate wipe-out at this SF)."""
    from project_crypto_data_engineering_gcp_spark.plans import get_query

    from .conftest import SF_ORACLE

    rows = (
        get_query("text_boilerplate_ngrams")
        .fn(spark, SF_ORACLE)
        .collect()
    )
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert rows
    any_removed = any_kept = False
    for r in rows:
        kept = r["cleaned_text"].split() if r["cleaned_text"] else []
        orig = docs[r["doc_id"]].split()
        assert r["n_tokens"] == len(orig)
        assert len(kept) + r["n_removed"] == r["n_tokens"]
        it = iter(orig)
        assert all(tok in it for tok in kept), "not an ordered subsequence"
        any_removed |= r["n_removed"] > 0
        any_kept |= bool(kept)
    assert any_removed and any_kept


def test_sq8_codes_bounded_and_recall(spark):
    """sim_sq8_topk: integer codes bounded by construction means the
    dot of two 64-dim code vectors is <= 64 * 127^2; and 8-bit uniform
    quantization of unit vectors is nearly lossless — recall@5 against
    the exact brute-force ranking must be high (>= 0.9 mean)."""
    from project_crypto_data_engineering_gcp_spark.plans import get_query

    from .conftest import SF_ORACLE

    sq = get_query("sim_sq8_topk").fn(spark, SF_ORACLE)
    assert sq.filter(F.abs("qdot") > 64 * 127 * 127).count() == 0
    # sq8 ranks the query itself first (it's in the corpus), leaving 4
    # non-self slots — so compare against the exact top-4, not top-5
    exact = (
        get_query("sim_topk_neighbors")
        .fn(spark, SF_ORACLE)
        .filter(F.col("rk") <= 4)
        .select(F.col("vec_a").alias("qid"), F.col("vec_b").alias("vec_id"))
    )
    approx = sq.filter(F.col("qid") != F.col("vec_id")).select("qid", "vec_id")
    n_hit = approx.join(exact, ["qid", "vec_id"]).count()
    n_exact = exact.count()
    assert n_hit / n_exact >= 0.9, f"sq8 recall {n_hit}/{n_exact}"


def test_pq_refined_subset_and_recall_repair(spark):
    """sim_pq_refined: (a) results are a subset of the ADC shortlist's
    candidate set (the exact pass re-ranks, never re-opens the corpus),
    (b) aggregate recall@5 vs the exact ranking is >= plain sim_pq_topk's
    — re-ranking the shortlist with true distances can only fix ranking
    errors inside the shortlist, not introduce new ones."""
    from project_crypto_data_engineering_gcp_spark.plans import get_query
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        PQ_REFINE_R,
    )

    from .conftest import SF_ORACLE

    refined = get_query("sim_pq_refined").fn(spark, SF_ORACLE)
    assert refined.count() > 0
    exact = (
        get_query("sim_topk_neighbors")
        .fn(spark, SF_ORACLE)
        .select(F.col("vec_a").alias("qid"), F.col("vec_b").alias("vec_id"))
    )
    pq = get_query("sim_pq_topk").fn(spark, SF_ORACLE)

    def recall(df):
        hits = (
            df.filter(F.col("qid") != F.col("vec_id"))
            .select("qid", "vec_id")
            .join(exact, ["qid", "vec_id"])
            .count()
        )
        return hits / exact.count()

    r_ref, r_pq = recall(refined), recall(pq)
    assert r_ref >= r_pq, f"refine lowered recall: {r_ref} < {r_pq}"
    # per-query output stays top-k sized and shortlist-bounded
    sizes = refined.groupBy("qid").count().agg(F.max("count")).first()[0]
    assert sizes <= min(5, PQ_REFINE_R)


def test_pools_rebuild_identically_after_external_clear(spark):
    """A session-wide clearCache() (what a harness that isolates queries
    does between them, and what executor-memory pressure does in
    production) must leave
    every pooled family serving BIT-IDENTICAL results from rebuilt
    pools: stale handles are detected via storageLevel and rebuilt, and
    the memoized plans pick the new InMemoryRelations up at planning
    time."""
    from project_crypto_data_engineering_gcp_spark.plans import get_query

    from .conftest import SF_ORACLE

    names = (
        "dedup_minhash_lsh",
        "sim_pq_topk",
        "sim_ann_ivf_topk",
        "sim_sq8_topk",
    )
    before = {
        n: sorted(map(tuple, get_query(n).fn(spark, SF_ORACLE).collect()))
        for n in names
    }
    spark.catalog.clearCache()
    for n in names:
        after = sorted(map(tuple, get_query(n).fn(spark, SF_ORACLE).collect()))
        assert after == before[n], f"{n}: rebuilt pool changed the answer"
    # the memoized-plan fast path must NOT bypass pool revalidation:
    # after the clear, a repeat minhash call (plan-memo hit) must have
    # re-materialized every pooled frame, including the verify-stage
    # candidate-shingle pool
    from pyspark import StorageLevel

    from project_crypto_data_engineering_gcp_spark.plans import queries_dedup as qd

    for memo in (
        qd._SHINGLE_MEMO,
        qd._SIGS_MEMO,
        qd._CAND_MEMO,
        qd._CAND_TOKS_MEMO,
    ):
        for entry in memo.values():
            assert entry.storageLevel != StorageLevel.NONE, (
                "pooled frame left unpersisted after rebuild"
            )


def test_boilerplate_hot_gram_cap_is_subset_and_noop_at_capacity(spark):
    """max_hot_grams (the broadcast-bound production dial): a huge cap
    reproduces the graded default exactly; a tiny cap removes a SUBSET
    of the default's positions (the most widespread boilerplate first),
    never new ones."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_text import (
        text_boilerplate_ngrams,
    )

    from .conftest import SF_SMOKE

    def removed(df):
        return {r["doc_id"]: r["n_removed"] for r in df.collect()}

    base = removed(text_boilerplate_ngrams(spark, SF_SMOKE))
    nocap = removed(
        text_boilerplate_ngrams(spark, SF_SMOKE, max_hot_grams=10**9)
    )
    assert nocap == base
    capped_df = text_boilerplate_ngrams(spark, SF_SMOKE, max_hot_grams=3)
    capped = removed(capped_df)
    assert all(capped[d] <= base[d] for d in base)
    assert sum(capped.values()) < sum(base.values())  # cap actually binds


def test_bloom_filter_transparent_and_pruning(spark):
    """Bloom contract: NO false negatives (every true key survives the
    prune) and real pruning (a probe of mostly-absent keys shrinks)."""
    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prune,
    )

    build = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 20000).select(F.col("id").alias("k"))
    bitmap = bloom_bitmap(build, "k")
    assert bitmap.count() <= (1 << 20) // 64
    survivors = bloom_prune(probe, "k", bitmap)
    true_keys = {r.k for r in build.filter(F.col("k") < 20000).collect()}
    got = {r.k for r in survivors.collect()}
    assert true_keys <= got, "false negatives"
    # single-hash fp rate ~ n/m = 500/2^20 -> expect ~ no extra survivors
    assert survivors.count() < 20000 * 0.05, "no pruning happened"


def test_minhash_incremental_second_call_reuses_index(spark, tmp_path):
    """The band index is built once per (app, dataset): a second call must
    reuse the SAME persisted path (no rebuild) and return identical rows."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
        _MINHASH_INDEX_MEMO,
        dedup_minhash_incremental,
    )
    from .conftest import SF_ORACLE

    r1 = sorted(map(tuple, dedup_minhash_incremental(spark, SF_ORACLE).collect()))
    paths = dict(_MINHASH_INDEX_MEMO)
    r2 = sorted(map(tuple, dedup_minhash_incremental(spark, SF_ORACLE).collect()))
    assert r1 == r2
    assert dict(_MINHASH_INDEX_MEMO) == paths  # same index path, no rebuild


def test_skyline_matches_bruteforce_on_random_ties(spark):
    """pareto_frontier_2d (sort-scan window) must equal the O(n²)
    dominance definition on random data dense with ties on both
    dimensions (the corpus part table barely has any)."""
    from project_crypto_data_engineering_gcp_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    for trial in range(3):
        pdf = pd.DataFrame(
            {
                "id": np.arange(200, dtype="int64"),
                "cost": RNG.integers(0, 12, size=200).astype("int64"),
                "gain": RNG.integers(0, 12, size=200).astype("int64"),
            }
        )
        got = {
            r.id
            for r in pareto_frontier_2d(
                spark.createDataFrame(pdf), "cost", "gain"
            ).collect()
        }
        c, g = pdf["cost"].values, pdf["gain"].values
        want = {
            int(pdf["id"][i])
            for i in range(len(pdf))
            if not any(
                (c[j] <= c[i] and g[j] >= g[i]) and (c[j] < c[i] or g[j] > g[i])
                for j in range(len(pdf))
            )
        }
        assert got == want, f"trial {trial}"


def test_global_rank_matches_window_row_number(spark):
    """global_rank (range-partition + offset, every window partitioned)
    must equal the single-task ROW_NUMBER() OVER (ORDER BY ...) it
    replaces, on random data with heavy duplicate keys, and
    ntile_from_rank must reproduce F.ntile for awkward N % n splits."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        global_rank,
        ntile_from_rank,
    )

    rng = np.random.default_rng(20260814)
    for trial, n in enumerate((1, 4, 203, 1000)):
        pdf = pd.DataFrame(
            {
                "id": np.arange(n, dtype="int64"),
                "v": rng.integers(0, max(2, n // 20), size=n).astype("int64"),
            }
        )
        df = spark.createDataFrame(pdf).repartition(7)
        got = global_rank(df, ["v", "id"], rank_col="r", num_partitions=5)
        w = Window.orderBy("v", "id")
        want = df.select(
            "id", F.row_number().over(w).cast("bigint").alias("r_want"),
            F.ntile(5).over(w).alias("t_want"),
        )
        n_rows = F.lit(n).cast("bigint")
        joined = got.withColumn(
            "t", ntile_from_rank(F.col("r"), n_rows, 5)
        ).join(want, "id")
        bad = joined.filter(
            (F.col("r") != F.col("r_want")) | (F.col("t") != F.col("t_want"))
        ).count()
        assert bad == 0, f"trial {trial} n={n}: {bad} mismatching rows"


def test_grouped_global_rank_matches_partitioned_row_number(spark):
    """grouped_global_rank (range-partition on (group, order) + per-
    (partition, group) offsets) must equal ROW_NUMBER() OVER
    (PARTITION BY group ORDER BY ...) on random data — including groups
    that straddle range-partition boundaries (few groups, many
    duplicates, several range partitions force straddling) and a group
    column containing NULL (eqNullSafe offset join)."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        grouped_global_rank,
    )

    rng = np.random.default_rng(20260815)
    for trial, n in enumerate((1, 7, 211, 1000)):
        # REAL None group keys (not NaN — a pandas float NaN arrives in
        # Spark as a joinable double NaN, which would never exercise the
        # null-safe join path this test exists to pin)
        rows = [
            (
                int(i),
                None if rng.random() < 0.1 else int(rng.integers(0, 3)),
                int(rng.integers(0, max(2, n // 10))),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, g bigint, v bigint"
        ).repartition(7)
        got = grouped_global_rank(
            df, ["g"], ["v", "id"], rank_col="r", num_partitions=5
        )
        # row-count first: a row-DROPPING implementation must fail here,
        # not vanish inside the inner join below
        assert got.count() == n, f"trial {trial}: rows lost"
        w = Window.partitionBy("g").orderBy("v", "id")
        want = df.select(
            "id", F.row_number().over(w).cast("bigint").alias("r_want")
        )
        bad = (
            got.join(want, "id")
            .filter(F.col("r") != F.col("r_want"))
            .count()
        )
        assert bad == 0, f"trial {trial} n={n}: {bad} mismatching rows"


def test_table_diff_classification_and_null_semantics(spark):
    """table_diff: every change class produced; NULL->value / value->NULL
    count as changes; NULL->NULL does not; reserved columns rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.operators.diff import table_diff

    a = spark.createDataFrame(
        [
            (1, 10, "a"),      # unchanged
            (2, 20, None),     # unchanged (NULL -> NULL)
            (3, 30, "c"),      # changed: v 30 -> 31
            (4, None, "d"),    # changed: v NULL -> 40
            (5, 50, "e"),      # changed: s 'e' -> NULL
            (6, 60, "f"),      # removed
        ],
        "k int, v int, s string",
    )
    b = spark.createDataFrame(
        [
            (1, 10, "a"),
            (2, 20, None),
            (3, 31, "c"),
            (4, 40, "d"),
            (5, 50, None),
            (7, 70, "g"),      # added
        ],
        "k int, v int, s string",
    )
    out = table_diff(a, b, keys=["k"], compare_cols=["v", "s"])
    got = {r["k"]: r for r in out.collect()}
    assert {k: r["change_type"] for k, r in got.items()} == {
        1: "unchanged", 2: "unchanged", 3: "changed",
        4: "changed", 5: "changed", 6: "removed", 7: "added",
    }
    assert got[3]["chg_v"] and not got[3]["chg_s"]
    assert got[4]["chg_v"] and not got[4]["chg_s"]
    assert got[5]["chg_s"] and not got[5]["chg_v"]
    # value pairs survive for downstream delta math
    assert (got[3]["a_v"], got[3]["b_v"]) == (30, 31)
    assert got[7]["a_v"] is None and got[7]["b_v"] == 70

    with _pytest.raises(ValueError, match="reserved"):
        table_diff(
            a.withColumn("change_type", F.lit("x")), b, ["k"], ["v"]
        )


def test_priority_sampling_favors_heavy_items(spark):
    """curate_weighted_sample implements Duffield-Lund-Thorup priority
    sampling: over many independent salts, an item's inclusion frequency
    must increase with its weight (P[include] ~ min(1, k*w/sum tau)).
    Statistical check: across 25 salts on a fixed 200-item population
    with weights 1..200, the mean weight of sampled items must exceed
    the population mean by a wide margin, and the top-weight decile must
    be sampled at least 4x as often as the bottom decile."""
    from pyspark.sql import Window, functions as F

    from project_crypto_data_engineering_gcp_spark.functions.hashing import md5_long

    UB = 1 << 30
    K = 20
    pop = spark.range(200).select(
        F.col("id"), (F.col("id") + 1).alias("w")
    )
    freq = {}
    for salt in range(25):
        u = md5_long(F.col("id").cast("string"), f"s{salt}:") % UB + 1
        pri = F.expr(f"(w * {UB}) div u")
        win = Window.orderBy(F.desc("pri"), "id")
        picked = (
            pop.withColumn("u", u)
            .withColumn("pri", pri)
            .withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= K)
            .select("id", "w")
            .collect()
        )
        assert len(picked) == K
        for r in picked:
            freq[r["id"]] = freq.get(r["id"], 0) + 1

    sampled_weight_mass = sum((i + 1) * c for i, c in freq.items())
    mean_sampled_w = sampled_weight_mass / (25 * K)
    # theory: with inclusion odds ~ w, E[mean sampled weight] -> the
    # weight-biased mean sum(w^2)/sum(w) = 133.7 here (measured 132.7 on
    # the fixed salts); demand comfortably above the UNIFORM mean 100.5
    assert mean_sampled_w > 120, mean_sampled_w
    top = sum(freq.get(i, 0) for i in range(180, 200))
    bottom = sum(freq.get(i, 0) for i in range(0, 20))
    assert top >= 4 * max(bottom, 1), (top, bottom)


# ------------------------------------------------ table_checksum properties


def _cksum_frame(n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "k": np.arange(n, dtype="int64"),
            "v": RNG.integers(0, 1_000_000, size=n).astype("int64"),
            "s": [f"s{int(x) % 7}" for x in RNG.integers(0, 100, size=n)],
        }
    )


def test_table_checksum_order_and_partitioning_invariant(spark):
    """The checksum is an orderless reduction: shuffling rows and changing
    the partitioning must produce the identical summary."""
    from project_crypto_data_engineering_gcp_spark.operators.checksum import (
        table_checksum,
    )

    pdf = _cksum_frame(400)
    a = spark.createDataFrame(pdf)
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=7)
    ).repartition(13)
    sa = table_checksum(a, keys=["k"], cols=["v", "s"]).toPandas()
    sb = table_checksum(shuffled, keys=["k"], cols=["v", "s"]).toPandas()
    pd.testing.assert_frame_equal(
        sa.sort_values("bucket").reset_index(drop=True),
        sb.sort_values("bucket").reset_index(drop=True),
    )


def test_table_checksum_detects_single_cell_edit_and_localizes(spark):
    """Editing ONE cell flips exactly the edited key's bucket; comparing
    the summaries (checksum_compare) marks that bucket and no other."""
    from project_crypto_data_engineering_gcp_spark.operators.checksum import (
        checksum_compare,
        md5_long,
        table_checksum,
    )

    pdf = _cksum_frame(400)
    edited = pdf.copy()
    edited.loc[123, "v"] = edited.loc[123, "v"] + 1
    a, b = spark.createDataFrame(pdf), spark.createDataFrame(edited)
    cmp_df = checksum_compare(
        table_checksum(a, keys=["k"], cols=["v", "s"]),
        table_checksum(b, keys=["k"], cols=["v", "s"]),
    ).toPandas()
    bad = cmp_df[~cmp_df["bucket_match"]]
    assert len(bad) == 1
    expected_bucket = (
        spark.range(1)
        .select(
            F.pmod(
                md5_long(F.lit(str(pdf.loc[123, "k"])), "cksum-v1:bk:"),
                F.lit(16),
            ).alias("b")
        )
        .collect()[0]["b"]
    )
    assert int(bad.iloc[0]["bucket"]) == int(expected_bucket)
    # counts agree everywhere (an edit, not an add/remove)
    assert (cmp_df["n_a"] == cmp_df["n_b"]).all()


def test_table_checksum_null_vs_empty_string_differ(spark):
    """NULL renders as \\N, not '': the two frames must NOT checksum equal."""
    from project_crypto_data_engineering_gcp_spark.operators.checksum import (
        checksum_compare,
        table_checksum,
    )

    a = spark.createDataFrame([(1, None)], "k bigint, s string")
    b = spark.createDataFrame([(1, "")], "k bigint, s string")
    cmp_df = checksum_compare(
        table_checksum(a, keys=["k"], cols=["s"]),
        table_checksum(b, keys=["k"], cols=["s"]),
    ).toPandas()
    assert not cmp_df["bucket_match"].all()


def test_global_prefix_sum_matches_pandas_cumsum(spark):
    """Inclusive running sums must equal pandas cumsum under the same
    order, regardless of input shuffling/partitioning."""
    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        global_prefix_sum,
    )

    pdf = pd.DataFrame(
        {
            "k": np.arange(500, dtype="int64"),
            "x": RNG.integers(-50, 50, size=500).astype("int64"),
            "y": RNG.integers(0, 1000, size=500).astype("int64"),
        }
    )
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=11)
    ).repartition(7)
    got = (
        global_prefix_sum(shuffled, ["k"], ["x", "y"], num_partitions=5)
        .orderBy("k")
        .toPandas()
    )
    ref = pdf.sort_values("k").reset_index(drop=True)
    assert (got["cum_x"].to_numpy() == ref["x"].cumsum().to_numpy()).all()
    assert (got["cum_y"].to_numpy() == ref["y"].cumsum().to_numpy()).all()
    # pass-through columns intact
    assert (got["x"].to_numpy() == ref["x"].to_numpy()).all()


def test_global_prefix_min_matches_pandas_exclusive_cummin(spark):
    """Exclusive running min over strictly preceding rows must equal
    pandas cummin().shift(1) under the same order (NaN/first row -> NULL),
    regardless of input shuffling/partitioning — incl. partition
    boundaries, where the preceding-partition minima broadcast kicks in."""
    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        global_prefix_min,
    )

    pdf = pd.DataFrame(
        {
            "k": np.arange(500, dtype="int64"),
            "x": RNG.integers(-1000, 1000, size=500).astype("int64"),
        }
    )
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=13)
    ).repartition(7)
    got = (
        global_prefix_min(shuffled, ["k"], "x", out_col="pm", num_partitions=5)
        .orderBy("k")
        .toPandas()
    )
    ref = pdf.sort_values("k").reset_index(drop=True)
    expect = ref["x"].cummin().shift(1)  # exclusive: strictly preceding
    assert got["pm"].isna().tolist() == expect.isna().tolist()
    mask = ~expect.isna()
    assert (
        got["pm"][mask].to_numpy() == expect[mask].to_numpy()
    ).all()
    # pass-through columns intact
    assert (got["x"].to_numpy() == ref["x"].to_numpy()).all()


def test_table_checksum_localizes_many_edits_exactly(spark):
    """20 random single-cell edits on 20 distinct keys: the mismatching
    bucket set must be EXACTLY the set of edited keys' buckets — no
    false alarms, no masking (the dual-hash XOR state cannot cancel)."""
    from project_crypto_data_engineering_gcp_spark.operators.checksum import (
        checksum_compare,
        md5_long,
        table_checksum,
    )

    pdf = _cksum_frame(600)
    edited = pdf.copy()
    edit_keys = RNG.choice(600, size=20, replace=False)
    for k in edit_keys:
        edited.loc[k, "v"] = int(edited.loc[k, "v"]) + 7
    cmp_df = checksum_compare(
        table_checksum(spark.createDataFrame(pdf), keys=["k"], cols=["v", "s"]),
        table_checksum(
            spark.createDataFrame(edited), keys=["k"], cols=["v", "s"]
        ),
    ).toPandas()
    expected = set(
        spark.createDataFrame(
            pd.DataFrame({"k": sorted(int(k) for k in edit_keys)})
        )
        .select(
            F.pmod(
                md5_long(F.col("k").cast("string"), "cksum-v1:bk:"), F.lit(16)
            ).alias("b")
        )
        .toPandas()["b"]
        .astype(int)
    )
    got = set(cmp_df.loc[~cmp_df["bucket_match"], "bucket"].astype(int))
    assert got == expected


def _new_stats_fixture_dir(spark, tmp_path, n=400):
    """Random customer/orders parquet slices (with deliberate acctbal
    ties and duplicate (price, date) orders) for the r8 stats queries'
    sequential-reference tests."""
    import datetime

    cust = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype="int64"),
            "c_nationkey": RNG.integers(0, 7, size=n).astype("int64"),
            # coarse grid -> plenty of exact ties across nations
            "c_acctbal": (RNG.integers(-40, 40, size=n) * 0.25),
        }
    )
    n_ord = n * 3
    dates = [
        datetime.date(2025, 1, 1) + datetime.timedelta(days=int(d))
        for d in RNG.integers(0, 90, size=n_ord)
    ]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": RNG.integers(0, n, size=n_ord).astype("int64"),
            # coarse price grid -> duplicate (price, date) pairs exist
            "o_totalprice": (RNG.integers(10, 60, size=n_ord) * 1.5),
            "o_orderdate": dates,
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(cust).write.parquet(f"{sf_dir}/customer.parquet")
    spark.createDataFrame(orders).write.parquet(f"{sf_dir}/orders.parquet")
    return sf_dir, cust, orders


def test_mann_whitney_matches_pairwise_reference(spark, tmp_path):
    """a30's rank-sum U must equal the O(n^2) pairwise definition
    2U = 2*#(in > out) + #(in = out) computed directly in numpy — an
    INDEPENDENT reference (no ranks at all), so a tie-handling or
    offset bug in the distributed rank machinery cannot self-confirm."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, cust, _ = _new_stats_fixture_dir(spark, tmp_path)
    got = {
        r["c_nationkey"]: r
        for r in get_query("a30_mann_whitney_u").fn(spark, sf_dir).collect()
    }
    v = (cust["c_acctbal"] * 100).round().astype("int64").to_numpy()
    for nk in sorted(cust["c_nationkey"].unique()):
        inside = v[cust["c_nationkey"].to_numpy() == nk]
        outside = v[cust["c_nationkey"].to_numpy() != nk]
        gt = int((inside[:, None] > outside[None, :]).sum())
        eq = int((inside[:, None] == outside[None, :]).sum())
        u2x_ref = 2 * gt + eq
        r = got[int(nk)]
        assert r["u2x"] == u2x_ref, nk
        assert r["n_in"] == len(inside) and r["n_out"] == len(outside)
        assert r["u_ppm"] == (u2x_ref * 1000000) // (2 * len(inside) * len(outside))


def test_skyline_matches_bruteforce_dominance(spark, tmp_path):
    """o7's sort-filter skyline must equal the O(n^2) dominance
    definition computed directly: a point survives iff no other point
    is <= on both axes and < on at least one — with equal-(price, date)
    duplicates keeping only the smallest key (the query's documented
    distinct-skyline convention)."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, _, orders = _new_stats_fixture_dir(spark, tmp_path)
    got = sorted(
        r["o_orderkey"]
        for r in get_query("o7_pareto_skyline_orders").fn(spark, sf_dir).collect()
    )
    p = (orders["o_totalprice"] * 100).round().astype("int64").to_numpy()
    d = orders["o_orderdate"].to_numpy()
    k = orders["o_orderkey"].to_numpy()
    expect = []
    for i in range(len(orders)):
        dominated = (
            ((p <= p[i]) & (d < d[i]))
            | ((p < p[i]) & (d <= d[i]))
        ).any()
        first_dup = not (
            ((p == p[i]) & (d == d[i]) & (k < k[i])).any()
        )
        if not dominated and first_dup:
            expect.append(int(k[i]))
    assert got == sorted(expect)


def test_spearman_matches_sequential_reference(spark, tmp_path):
    """a31's distributed two-rank Spearman must equal the sequential
    computation of the SAME definition (strict-order ranks with custkey
    tiebreak, d-squared identity) done in pandas — validating the
    global_rank machinery and the decimal arithmetic against a
    single-threaded reference."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, _, orders = _new_stats_fixture_dir(spark, tmp_path)
    row = get_query("a31_spearman_spend_orders").fn(spark, sf_dir).collect()[0]

    per_c = (
        orders.assign(cents=(orders["o_totalprice"] * 100).round().astype("int64"))
        .groupby("o_custkey")
        .agg(spend=("cents", "sum"), cnt=("o_orderkey", "count"))
        .reset_index()
    )
    rk_s = per_c.sort_values(["spend", "o_custkey"]).reset_index()
    rk_s["rk_s"] = np.arange(1, len(rk_s) + 1)
    rk_c = per_c.sort_values(["cnt", "o_custkey"]).reset_index()
    rk_c["rk_c"] = np.arange(1, len(rk_c) + 1)
    m = rk_s.merge(rk_c, on="o_custkey")
    n = len(m)
    sum_d2 = int(((m["rk_s"] - m["rk_c"]) ** 2).sum())
    rho_ppm = 1000000 - (6000000 * sum_d2) // (n * (n * n - 1))
    assert row["n"] == n
    assert row["sum_d2"] == sum_d2
    assert row["rho_ppm"] == rho_ppm


# ---------------------------------------------------------------- r9 suite


def _r9_fixture_dir(spark, tmp_path):
    """Random fixture tables for the r9 additions' sequential-reference
    tests: order dates STRADDLE the 1996-01-01 drift cut, one nation's
    customers place no orders (all-zero Gini slice -> NULL guard), price
    grids are coarse (ties), and embeddings carry negatives (the
    floor-division sign trap)."""
    import datetime

    n_cust, n_ord = 300, 900
    cust = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_nationkey": RNG.integers(0, 7, size=n_cust).astype("int64"),
            "c_acctbal": (RNG.integers(-40, 40, size=n_cust) * 0.25),
        }
    )
    # nation 6 places no orders at all: its lifetime spends are all zero
    orderless = set(cust[cust["c_nationkey"] == 6]["c_custkey"])
    eligible = np.array(
        [k for k in range(n_cust) if k not in orderless], dtype="int64"
    )
    dates = [
        datetime.datetime(1995, 1, 1) + datetime.timedelta(days=int(d))
        for d in RNG.integers(0, 730, size=n_ord)  # straddles 1996-01-01
    ]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": RNG.choice(eligible, size=n_ord),
            "o_totalprice": (RNG.integers(10, 60, size=n_ord) * 1.5),
            "o_orderdate": dates,
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(40, dtype="int64"),
            "p_brand": [f"BR{int(b)}" for b in RNG.integers(0, 5, size=40)],
        }
    )
    li = pd.DataFrame(
        {
            "l_partkey": RNG.integers(0, 40, size=600).astype("int64"),
            "l_suppkey": RNG.integers(0, 11, size=600).astype("int64"),
            "l_extendedprice": (RNG.integers(5, 95, size=600) * 2.5),
        }
    )
    base_ts = datetime.datetime(2025, 3, 1)
    events = pd.DataFrame(
        {
            "event_id": np.arange(1200, dtype="int64"),
            "ts": [
                base_ts + datetime.timedelta(seconds=int(s))
                for s in RNG.integers(0, 50_000, size=1200)
            ],
            "user_id": RNG.integers(0, 60, size=1200).astype("int64"),
            "event_type": RNG.choice(
                ["view", "click", "purchase", "error"], size=1200
            ),
            "value": RNG.normal(10, 3, size=1200),
            "props": ["{}"] * 1200,
        }
    )
    vocab = [f"w{i}" for i in range(50)]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(60, dtype="int64"),
            "text": [
                " ".join(RNG.choice(vocab, size=int(RNG.integers(3, 30))))
                for _ in range(60)
            ],
            "lang": RNG.choice(["en", "de"], size=60),
            "source": ["s"] * 60,
            "n_chars": np.zeros(60, dtype="int64"),
        }
    )
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(40, dtype="int64"),
            "embedding": [
                RNG.normal(0, 0.3, size=8).astype("float32").tolist()
                for _ in range(40)
            ],
            "label": np.zeros(40, dtype="int32"),
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(cust).write.parquet(f"{sf_dir}/customer.parquet")
    spark.createDataFrame(orders).write.parquet(f"{sf_dir}/orders.parquet")
    spark.createDataFrame(part).write.parquet(f"{sf_dir}/part.parquet")
    spark.createDataFrame(li).write.parquet(f"{sf_dir}/lineitem.parquet")
    spark.createDataFrame(events).write.parquet(f"{sf_dir}/events.parquet")
    spark.createDataFrame(docs).write.parquet(f"{sf_dir}/documents.parquet")
    spark.createDataFrame(
        emb, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    return sf_dir, {
        "cust": cust, "orders": orders, "part": part, "li": li,
        "events": events, "docs": docs, "emb": emb,
    }


def _gini_ppm_ref(spends: list[int], keys: list[int]) -> int | None:
    """Sequential rank-formula Gini in floored ppm (Gini 1912), strict
    (spend, key) order — the pure-Python reference."""
    xs = [x for x, _ in sorted(zip(spends, keys), key=lambda t: (t[0], t[1]))]
    n, s0 = len(xs), sum(xs)
    if s0 == 0:
        return None
    s1 = sum(i * x for i, x in enumerate(xs, start=1))
    return (2 * s1 - (n + 1) * s0) * 1_000_000 // (n * s0)


def test_gini_drift_matches_sequential_reference(spark, tmp_path):
    """a36's per-half Ginis and drift vs the sequential reference over
    per-half spends (customers scored only in halves they ordered in)."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    cust, orders = t["cust"], t["orders"]
    got = {
        r["nationkey"]: r
        for r in get_query("a36_gini_drift_by_nation").fn(spark, sf_dir).collect()
    }
    nation_of = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    cut = pd.Timestamp(1996, 1, 1)
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    for nk in sorted(set(nation_of[k] for k in orders["o_custkey"])):
        ref = {}
        for is_old in (True, False):
            m = (orders["o_custkey"].map(nation_of) == nk) & (
                (orders["o_orderdate"] < cut) == is_old
            )
            by_cust = cents[m].groupby(orders["o_custkey"][m]).sum()
            ref[is_old] = _gini_ppm_ref(
                [int(v) for v in by_cust.values], list(by_cust.index)
            )
        r = got[int(nk)]
        assert r["gini_old_ppm"] == ref[True], nk
        assert r["gini_new_ppm"] == ref[False], nk
        if ref[True] is not None and ref[False] is not None:
            assert r["drift_ppm"] == ref[False] - ref[True]


def test_hhi_brand_matches_sequential_reference(spark, tmp_path):
    """a37's revenue-weighted HHI vs the direct sum-of-squared-shares."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    part, li = t["part"], t["li"]
    got = {
        r["p_brand"]: r
        for r in get_query("a37_hhi_supplier_by_brand").fn(spark, sf_dir).collect()
    }
    brand_of = dict(zip(part["p_partkey"], part["p_brand"]))
    cents = (li["l_extendedprice"] * 100).round().astype("int64")
    frame = pd.DataFrame(
        {
            "brand": li["l_partkey"].map(brand_of),
            "supp": li["l_suppkey"],
            "cents": cents,
        }
    )
    for brand, g in frame.groupby("brand"):
        rev = g.groupby("supp")["cents"].sum()
        tot = int(rev.sum())
        hhi = sum(int(x) ** 2 for x in rev) * 1_000_000 // (tot * tot)
        r = got[brand]
        assert r["n_suppliers"] == len(rev)
        assert r["brand_rev_cents"] == tot
        assert r["hhi_ppm"] == hhi, brand


def test_time_to_convert_matches_sequential_reference(spark, tmp_path):
    """events_time_to_convert vs a per-user sequential walk (first view,
    first strictly-later purchase, delta in whole seconds) plus direct
    list-index percentile extraction — the O(users x events) reference
    for both the join chain and the rank-boundary convention."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    ev = t["events"]
    got = get_query("events_time_to_convert").fn(spark, sf_dir).collect()[0]
    deltas = []
    for uid, g in ev.groupby("user_id"):
        views = g[g["event_type"] == "view"]["ts"]
        if views.empty:
            continue
        t1 = views.min()
        purch = g[(g["event_type"] == "purchase") & (g["ts"] > t1)]["ts"]
        if purch.empty:
            continue
        deltas.append((int((purch.min() - t1).total_seconds()), int(uid)))
    deltas.sort()
    n = len(deltas)
    assert got["n_converters"] == n
    assert got["min_sec"] == deltas[0][0]
    assert got["p50_sec"] == deltas[(50 * n) // 100 - 1][0]
    assert got["p90_sec"] == deltas[(90 * n) // 100 - 1][0]
    assert got["max_sec"] == deltas[-1][0]


def test_vocab_growth_matches_prefix_rescan(spark, tmp_path):
    """text_vocab_growth_curve's first-bucket trick vs the naive
    re-scan of every prefix (the O(buckets x corpus) definition the
    distributed plan exists to avoid)."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    docs = t["docs"]
    got = {
        r["bucket"]: r
        for r in get_query("text_vocab_growth_curve").fn(spark, sf_dir).collect()
    }
    n_docs = int(docs["doc_id"].max()) + 1
    for b in range(10):
        in_prefix = docs[(docs["doc_id"] * 10) // n_docs <= b]["text"]
        toks = [tok for s in in_prefix for tok in s.split(" ")]
        assert got[b]["cum_tokens"] == len(toks), b
        assert got[b]["cum_vocab"] == len(set(toks)), b


def test_embedding_drift_matches_numpy(spark, tmp_path):
    """dq_embedding_mean_drift vs numpy: floor(v*1e6) sums per (dim,
    half), floored mean via the shift identity — negatives included."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    emb = t["emb"]
    got = {
        r["dim"]: r
        for r in get_query("dq_embedding_mean_drift").fn(spark, sf_dir).collect()
    }
    mat = np.floor(
        np.array(emb["embedding"].tolist(), dtype="float64") * 1_000_000
    ).astype("int64")
    half = (int(emb["vec_id"].max()) + 1) // 2
    old, new = mat[: half], mat[half:]
    for d in range(mat.shape[1]):
        mo = int(old[:, d].sum()) // len(old) if len(old) else None
        # python // floors — matching the query's shift construction
        mo = int(np.floor(old[:, d].sum() / len(old)))
        mn = int(np.floor(new[:, d].sum() / len(new)))
        assert got[d]["mean_old_micro"] == mo, d
        assert got[d]["mean_new_micro"] == mn, d
        assert got[d]["drift_micro"] == mn - mo, d


def test_version_quantile_drift_time_travels(spark, tmp_path):
    """dq_version_quantile_drift must (a) actually materialize a
    two-version txlog history and read v0 via time travel, and (b)
    produce the numpy rank-boundary deciles of each version."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query
    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        _vdrift_table_dir,
    )
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    orders = t["orders"]
    got = {
        r["decile"]: r
        for r in get_query("dq_version_quantile_drift").fn(spark, sf_dir).collect()
    }
    # the txlog table really has two committed versions
    assert tx_table._versions(_vdrift_table_dir(sf_dir)) == [0, 1]

    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    cut = pd.Timestamp(1996, 1, 1)

    def bounds(mask):
        sub = sorted(zip(cents[mask], orders["o_orderkey"][mask]))
        n = len(sub)
        return {i: sub[(i * n) // 10 - 1][0] for i in range(1, 10)}

    b0 = bounds(orders["o_orderdate"] < cut)
    b1 = bounds(orders["o_orderdate"] == orders["o_orderdate"])  # all
    for i in range(1, 10):
        assert got[i]["v0_cents"] == int(b0[i]), i
        assert got[i]["v1_cents"] == int(b1[i]), i
        assert got[i]["drift_cents"] == int(b1[i]) - int(b0[i]), i


def test_ttr_matches_sequential_reference(spark, tmp_path):
    from project_crypto_data_engineering_gcp_spark.plans.corpus import get_query

    sf_dir, t = _r9_fixture_dir(spark, tmp_path)
    docs = t["docs"]
    got = {
        r["lang"]: r
        for r in get_query("text_ttr_by_lang").fn(spark, sf_dir).collect()
    }
    for lang, g in docs.groupby("lang"):
        toks = [tok for s in g["text"] for tok in s.split(" ")]
        r = got[lang]
        assert r["n_tokens"] == len(toks)
        assert r["n_types"] == len(set(toks))
        assert r["ttr_ppm"] == len(set(toks)) * 1_000_000 // len(toks)


def test_vdrift_reaper_removes_dead_pid_dirs_only(spark, tmp_path):
    """The vdrift scratch reaper removes sibling dirs owned by DEAD
    pids and leaves live ones alone (code-review r9: every process
    used to leak two committed orders copies into the global tmp)."""
    import os
    import tempfile

    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        _reap_dead_vdrift_dirs,
    )

    tmp = tempfile.gettempdir()
    dead = os.path.join(tmp, "spark_graft_vdrift_999999999_deadbeef00")
    fresh = os.path.join(tmp, "spark_graft_vdrift_999999998_freshfresh")
    live = os.path.join(tmp, f"spark_graft_vdrift_{os.getpid()}_cafecafe00")
    os.makedirs(dead, exist_ok=True)
    os.makedirs(fresh, exist_ok=True)
    os.makedirs(live, exist_ok=True)
    # age the dead dir past the 1h grace window; `fresh` stays young —
    # the pid-recycling TOCTOU guard must leave it alone even though
    # its pid is dead (code-review r9 pass 2)
    old = 1_000_000_000
    os.utime(dead, (old, old))
    try:
        _reap_dead_vdrift_dirs()
        assert not os.path.exists(dead), "aged dead-pid dir must be reaped"
        assert os.path.exists(fresh), "young dir survives (pid-reuse guard)"
        assert os.path.exists(live), "own-pid dir must survive"
    finally:
        import shutil

        shutil.rmtree(dead, ignore_errors=True)
        shutil.rmtree(fresh, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)


def test_grouped_global_prefix_sum_matches_partitioned_window(spark):
    """grouped_global_prefix_sum (range-partition on (group, order) +
    per-(partition, group) offset sums) must equal SUM() OVER
    (PARTITION BY group ORDER BY ... ROWS UNBOUNDED PRECEDING) on
    random data — including groups straddling range partitions and a
    NULL group key (eqNullSafe end to end)."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        grouped_global_prefix_sum,
    )

    rng = np.random.default_rng(20260816)
    for trial, n in enumerate((1, 7, 211, 1000)):
        rows = [
            (
                int(i),
                None if rng.random() < 0.1 else int(rng.integers(0, 3)),
                int(rng.integers(0, max(2, n // 10))),
                int(rng.integers(-20, 50)),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, g bigint, v bigint, x bigint"
        ).repartition(7)
        got = grouped_global_prefix_sum(
            df, ["g"], ["v", "id"], ["x"], num_partitions=5
        )
        assert got.count() == n, f"trial {trial}: rows lost"
        w = (
            Window.partitionBy("g")
            .orderBy("v", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = df.select("id", F.sum("x").over(w).alias("want"))
        bad = (
            got.join(want, "id")
            .filter(F.col("cum_x") != F.col("want"))
            .count()
        )
        assert bad == 0, f"trial {trial}: {bad} mismatched prefix sums"


def test_global_prefix_sum_null_runs_match_window_semantics(spark):
    """SQL SUM() OVER ignores NULLs and is NULL only before the first
    non-null value. The r10 advisor found the offset+window split broke
    this when a RANGE PARTITION opens with a run of NULLs after earlier
    partitions contributed values (coalesced-0 offset + NULL window =
    NULL instead of the carried offset). Fixture: 400 ordered rows over
    5 range partitions with x non-null for id<100, an all-NULL band for
    100<=id<260 (covering at least one whole interior partition), then
    non-null again — compared null-safely against the single-window
    reference."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        global_prefix_sum,
    )

    rows = [
        (int(i), int(i) if (i < 100 or i >= 260) else None)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id bigint, x bigint").repartition(7)
    got = global_prefix_sum(df, ["id"], ["x"], num_partitions=5)
    w = (
        Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select("id", F.sum("x").over(w).alias("want"))
    bad = (
        got.join(want, "id")
        .filter(~F.col("cum_x").eqNullSafe(F.col("want")))
        .count()
    )
    assert bad == 0, f"{bad} null-run prefix sums diverge from SQL window"
    # the regression shape is actually present: a NULL-x row inside the
    # band must carry the NON-NULL prior sum (old code returned NULL)
    mid = got.filter((F.col("id") == 150)).collect()[0]
    assert mid["cum_x"] == sum(range(100))


def test_global_prefix_sum_all_null_prefix_stays_null(spark):
    """Before the first non-null value the running sum is NULL (SQL),
    not 0 — including across partition boundaries (offset must stay
    un-coalesced)."""
    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        global_prefix_sum,
    )

    rows = [(int(i), None if i < 250 else int(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, x bigint")
    got = global_prefix_sum(df, ["id"], ["x"], num_partitions=5).collect()
    by_id = {r["id"]: r["cum_x"] for r in got}
    assert all(by_id[i] is None for i in range(250))
    assert by_id[250] == 250 and by_id[399] == sum(range(250, 400))


def test_grouped_global_prefix_sum_null_runs_match_window_semantics(spark):
    """Grouped twin of the NULL-run regression: per-group running sums
    with NULL value bands straddling range partitions (and a NULL group
    key) must match SUM() OVER (PARTITION BY g ORDER BY ...) null-safely
    — NULL while the group has seen no non-null, carried sum inside a
    group's NULL band otherwise."""
    from pyspark.sql import Window

    from project_crypto_data_engineering_gcp_spark.operators.rank import (
        grouped_global_prefix_sum,
    )

    rng = np.random.default_rng(20260817)
    rows = []
    for i in range(900):
        g = None if i % 11 == 0 else int(i % 3)
        # leading NULL run per group, a mid-band NULL run, else values
        pos = i // 3
        if pos < 40 or 120 <= pos < 200 or rng.random() < 0.15:
            x = None
        else:
            x = int(rng.integers(-20, 50))
        rows.append((int(i), g, x))
    df = spark.createDataFrame(rows, "id bigint, g bigint, x bigint").repartition(7)
    got = grouped_global_prefix_sum(df, ["g"], ["id"], ["x"], num_partitions=5)
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select("id", F.sum("x").over(w).alias("want"))
    bad = (
        got.join(want, "id")
        .filter(~F.col("cum_x").eqNullSafe(F.col("want")))
        .count()
    )
    assert bad == 0, f"{bad} grouped null-run prefix sums diverge"
    # non-vacuous: the fixture produces both NULL cums and carried sums
    assert got.filter(F.col("cum_x").isNull()).count() > 0
    assert (
        got.filter(F.col("x").isNull() & F.col("cum_x").isNotNull()).count() > 0
    )


def _wmedian_ref(pdf: pd.DataFrame) -> dict:
    """Lower weighted median per group, straight from sorted rows."""
    out = {}
    for g, sub in pdf.groupby("g"):
        sub = sub[sub.w > 0]
        tot = sub.w.sum()
        if tot <= 0:
            continue
        agg = sub.groupby("v", sort=True).w.sum()
        cum = agg.cumsum()
        out[g] = (int(agg.index[(2 * cum >= tot).argmax()]), int(tot))
    return out


def test_grouped_weighted_median_single_band_concentration(spark):
    """The r10 residual lever: ALL weight of every group inside one
    level-0 band (values in [0, 999] with band_widths starting at
    100_000) must still resolve exactly — the multi-level refinement
    narrows to a width-10 slice before the exact pass. Seeded random
    weights with duplicate values (ties on the 2*cum >= tot boundary)
    and a zero-weight value point."""
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )

    rng = np.random.default_rng(20260818)
    rows = []
    for i in range(3000):
        rows.append(
            (
                int(i),
                int(rng.integers(0, 4)),
                int(rng.integers(0, 1000)),  # whole domain inside band 0
                int(rng.integers(0, 50)),  # includes zero weights
            )
        )
    pdf = pd.DataFrame(rows, columns=["id", "g", "v", "w"])
    df = spark.createDataFrame(pdf).repartition(7)
    got = grouped_weighted_median(
        df, ["g"], "v", "w", band_widths=(100_000, 1_000, 10)
    ).collect()
    want = _wmedian_ref(pdf)
    got_map = {r["g"]: (r["median_value"], r["total_weight"]) for r in got}
    assert got_map == want


def test_grouped_weighted_median_matches_reference_random(spark):
    """General-domain differential check (values spanning many level-0
    bands, negative values included — DIV truncation toward zero stays
    monotone), 1..3 refinement levels all agreeing with the sorted
    reference."""
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )

    rng = np.random.default_rng(20260819)
    rows = [
        (
            int(i),
            int(rng.integers(0, 5)),
            int(rng.integers(-500_000, 500_000)),
            int(rng.integers(0, 100)),
        )
        for i in range(4000)
    ]
    pdf = pd.DataFrame(rows, columns=["id", "g", "v", "w"])
    df = spark.createDataFrame(pdf).repartition(7)
    want = _wmedian_ref(pdf)
    # () = the r13 value-grain single-scan degenerate case (one
    # (group, value) aggregate, no banding) — must agree bit-for-bit
    # with every refinement depth
    for widths in ((), (100_000,), (100_000, 1_000), (100_000, 5_000, 100)):
        got = grouped_weighted_median(
            df, ["g"], "v", "w", band_widths=widths
        ).collect()
        got_map = {r["g"]: (r["median_value"], r["total_weight"]) for r in got}
        assert got_map == want, f"band_widths={widths}"


def test_grouped_weighted_median_guards(spark):
    """Reserved-column and band-width contracts fail loudly."""
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )

    df = spark.createDataFrame([(0, 1, 1)], "g bigint, v bigint, w bigint")
    with pytest.raises(ValueError, match="strictly decreasing"):
        grouped_weighted_median(df, ["g"], "v", "w", band_widths=(10, 10))
    with pytest.raises(ValueError, match="positive"):
        grouped_weighted_median(df, ["g"], "v", "w", band_widths=(0,))
    bad = df.withColumn("__wm_b", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        grouped_weighted_median(bad, ["g"], "v", "w")


def test_collect_queries_budget_guard(spark, monkeypatch):
    """The query-set collect is bounded driver state BY ENFORCEMENT
    (r10 advisory): beyond MAX_QUERY_SET_ROWS it raises and names the
    corpus-vs-corpus path instead of silently shipping a corpus to the
    driver."""
    from project_crypto_data_engineering_gcp_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id bigint, embedding array<double>",
    )
    monkeypatch.setattr(similarity, "MAX_QUERY_SET_ROWS", 3)
    with pytest.raises(ValueError, match="corpus-vs-corpus"):
        similarity._collect_queries(emb, F.lit(True))
    # within budget: fine
    qids, qnv = similarity._collect_queries(emb, F.col("vec_id") < 2)
    assert len(qids) == 2 and qnv.shape == (2, 2)


def test_pairs_local_budget_guard(spark, monkeypatch):
    """_pairs_local materializes id pairs driver-side only within the
    enforced MAX_LOCAL_PAIR_ROWS budget; beyond it raises with the
    keep-it-distributed pointer."""
    from project_crypto_data_engineering_gcp_spark.plans import queries_similarity

    df = spark.range(5).select(
        F.col("id").alias("vec_a"), F.col("id").alias("vec_b")
    )
    monkeypatch.setattr(queries_similarity, "MAX_LOCAL_PAIR_ROWS", 3)
    with pytest.raises(ValueError, match="bounded driver state"):
        queries_similarity._pairs_local(df)
    monkeypatch.setattr(queries_similarity, "MAX_LOCAL_PAIR_ROWS", 100)
    assert queries_similarity._pairs_local(df).count() == 5


def test_grouped_weighted_quantile_matches_reference(spark):
    """quantile_ppm generalization: lower weighted quantiles at p25/p90
    (and the median as 500000) must equal the sorted reference at every
    refinement depth; quantile_ppm is validated."""
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )

    rng = np.random.default_rng(20260820)
    rows = [
        (int(i), int(rng.integers(0, 4)), int(rng.integers(0, 200_000)),
         int(rng.integers(0, 40)))
        for i in range(3000)
    ]
    pdf = pd.DataFrame(rows, columns=["id", "g", "v", "w"])
    df = spark.createDataFrame(pdf).repartition(7)

    def ref(p_ppm: int) -> dict:
        out = {}
        for g, sub in pdf.groupby("g"):
            sub = sub[sub.w > 0]
            tot = sub.w.sum()
            if tot <= 0:
                continue
            agg = sub.groupby("v", sort=True).w.sum()
            cum = agg.cumsum()
            hit = 1_000_000 * cum >= p_ppm * tot
            out[g] = int(agg.index[hit.to_numpy().argmax()])
        return out

    for p in (250_000, 500_000, 900_000):
        for widths in ((100_000, 1_000), (10_000,), ()):
            got = grouped_weighted_median(
                df, ["g"], "v", "w", band_widths=widths, quantile_ppm=p
            ).collect()
            got_map = {r["g"]: r["median_value"] for r in got}
            assert got_map == ref(p), f"p={p} widths={widths}"

    with pytest.raises(ValueError, match="quantile_ppm"):
        grouped_weighted_median(df, ["g"], "v", "w", quantile_ppm=0)
    with pytest.raises(ValueError, match="quantile_ppm"):
        grouped_weighted_median(df, ["g"], "v", "w", quantile_ppm=1_000_001)


def test_grouped_weighted_median_null_contract(spark):
    """r11 ADVICE fixes: (1) NULL value/weight rows are IGNORED — they
    must neither shift the cumulative (NULL band sorting first) nor
    corrupt the selected median; (2) NULL GROUP keys are kept as their
    own group (eqNullSafe state joins), not silently dropped."""
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )

    rows = [
        # group "a": clean median 20 (weights 1,3,1 -> cum hits at 20)
        ("a", 10, 1), ("a", 20, 3), ("a", 30, 1),
        # heavy NULL-value weight that would sort first and shift
        # every cumulative if not filtered
        ("a", None, 100),
        # NULL weight on a real value: ignored, not treated as 0-weight
        ("a", 5, None),
        # NULL group: its own median over (7, 9) weights (1, 2) -> 9
        (None, 7, 1), (None, 9, 2),
    ]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    got = {
        r["g"]: (r["median_value"], r["total_weight"])
        for r in grouped_weighted_median(
            df, ["g"], "v", "w", band_widths=(100, 10)
        ).collect()
    }
    assert got["a"] == (20, 5)
    assert got[None] == (9, 3)


def test_survival_curve_budget_guard(spark, monkeypatch):
    """The KM collect_list fold's horizon-bounded budget is ENFORCED
    (r11 verdict task 4): beyond MAX_CURVE_ROWS the query raises at
    execution instead of building an unbounded single-row array."""
    from project_crypto_data_engineering_gcp_spark.plans import queries_relational

    from .conftest import SF_SMOKE

    monkeypatch.setattr(queries_relational, "MAX_CURVE_ROWS", 3)
    df = queries_relational.events_survival_curve(spark, SF_SMOKE)
    with pytest.raises(Exception, match="MAX_CURVE_ROWS"):
        df.collect()
    monkeypatch.setattr(queries_relational, "MAX_CURVE_ROWS", 100_000)
    assert queries_relational.events_survival_curve(spark, SF_SMOKE).count() > 3


def test_lsh_index_stable_path_cross_process(spark, monkeypatch, tmp_path):
    """r11 ADVICE: the build-vs-serve split must hold ACROSS processes —
    a serving call with no in-process memo finds the index the CLI
    built at the dataset-keyed stable path and does NOT rebuild (the
    shingle frame is poisoned to prove no second build happens)."""
    import os

    from project_crypto_data_engineering_gcp_spark.plans import queries_dedup

    from .conftest import SF_SMOKE

    stable = str(tmp_path / "stable_idx")
    monkeypatch.setattr(
        queries_dedup, "stable_minhash_index_path", lambda sf: stable
    )
    # "process 1": the CLI's explicit-out build
    path = queries_dedup.build_minhash_band_index(spark, SF_SMOKE, out=stable)
    assert path == stable and os.path.isfile(os.path.join(stable, "_SUCCESS"))
    # "process 2": fresh memo, poisoned builder -> must reuse, not rebuild
    monkeypatch.setattr(queries_dedup, "_MINHASH_INDEX_MEMO", {})

    def _boom(*a, **k):
        raise AssertionError("rebuild attempted despite stable index")

    monkeypatch.setattr(queries_dedup, "_shared_shingle_frame", _boom)
    assert queries_dedup.build_minhash_band_index(spark, SF_SMOKE) == stable


def test_dedup_chain_carry_state_across_arrow_batches(spark):
    """The batched anchor-chain fold is lossless ONLY because of the
    cross-batch (user, anchor) carry — at production scale a user's
    rows can straddle Arrow batch boundaries, but at test scale the
    default 10k-row batches never split a user, so this test forces
    3-row batches (every user with >3 clicks spans several) and checks
    the kept set against a pure-Python reference chain, exact."""
    from .conftest import SF_SMOKE

    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        DEDUP_WM_DELTA_S,
        dedup_within_watermark_batch,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {
            (r["user_id"], r["event_id"])
            for r in dedup_within_watermark_batch(spark, SF_SMOKE).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    want = set()
    delta = DEDUP_WM_DELTA_S * 1_000_000
    for uid, evs in per_user.items():
        anchor = None
        for us, eid in sorted(evs):
            if anchor is None or us > anchor + delta:
                want.add((uid, eid))
                anchor = us
    assert got == want and len(want) > 0
