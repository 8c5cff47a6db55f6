"""Similarity-search corpus queries over the ``embeddings`` table.

ANN over an ``array<float>`` embedding column (BASELINE.json north star):
brute-force cosine as the exact baseline, sign-bit LSH bucketing as the
scale path. All queries use the PRE-NORMALIZED formulation: each vector is
unit-normalized once (one fold per vector), so every pair costs a single
dot-product fold instead of dot + two norms — Spark's higher-order
functions are interpreted, not codegen'd, so fold count is the cost
driver on all-pairs joins (measured ~6x on the sf0.1 bench). The DuckDB
oracles mirror the identical arithmetic (double-cast, divide by the same
precomputed norm, same element order), keeping results bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import roundfx, roundfx_sql
from ..functions.vectors import dot_double_sql, norm, norm_sql, normalized_sql
from ..sources.tables import load_table
from .corpus import corpus_query
from .pooling import bounded_cached

COSINE_PAIR_THRESHOLD = 0.3
TOPK_QUERIES = 20  # vec_id < 20 are the query vectors
TOPK_K = 5
# sign bits of these (1-based) dimensions form the LSH bucket id
LSH_DIMS = (1, 9, 17, 25)

# shared oracle CTE: vectors unit-normalized once, via a precomputed norm
_NORM_CTE = f"""
    WITH e AS (
        SELECT vec_id, label,
               {normalized_sql("embedding", "nrm")} AS nv,
               nrm
        FROM (SELECT vec_id, label, embedding,
                     {norm_sql("embedding")} AS nrm
              FROM embeddings) raw
    )
"""


@corpus_query(
    "sim_embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
           len(embedding) AS dim,
           ROUND({norm_sql("embedding")}, 6) AS l2_norm
    FROM embeddings
    """,
)
def sim_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene scan: dimensionality + L2 norm per vector (the
    pre-normalization step of any ANN pipeline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm("embedding"), 6).alias("l2_norm"),
    )


@corpus_query(
    "sim_cosine_pairs",
    oracle=f"""
    {_NORM_CTE}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           ROUND({dot_double_sql("a.nv", "b.nv")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {dot_double_sql("a.nv", "b.nv")} >= {COSINE_PAIR_THRESHOLD}
    """,
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine similarity join: all pairs above
    {COSINE_PAIR_THRESHOLD} — the exact baseline ANN answers are measured
    against. Runs as the distributed block-grid self-join
    (operators/similarity.cosine_pairs_grid): no driver collect, shuffle
    is N x n_blocks rows, and the unavoidable exact N^2 FLOPs tile across
    the cluster — the layout that survives a 100x scale-up. Arithmetic is
    dimension-sequential, bit-identical to the fold-based oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import cosine_pairs_grid

    return cosine_pairs_grid(emb, threshold=COSINE_PAIR_THRESHOLD)


def _topk_oracle() -> str:
    """Exact brute-force top-{TOPK_K} per query — reused verbatim by the
    kNN-classification composition (no-drift rule)."""
    return f"""
    {_NORM_CTE}
    SELECT vec_a, vec_b, cos_sim, rk FROM (
        SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
               ROUND({dot_double_sql("q.nv", "c.nv")}, 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND({dot_double_sql("q.nv", "c.nv")}, 6) DESC,
                            c.vec_id
               ) AS rk
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {TOPK_QUERIES}
    ) t WHERE rk <= {TOPK_K}
    """


@corpus_query("sim_topk_neighbors", oracle=_topk_oracle())
def sim_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-{TOPK_K} nearest neighbors for the first
    {TOPK_QUERIES} query vectors, as the blockwise numpy operator.
    Ranking is on the ROUNDED cosine with vec_id tie-break, making the
    cut deterministic cross-engine even at float ulp differences.

    Distributed layout: the {TOPK_QUERIES} queries broadcast; the index
    streams partition-parallel through the nested-loop join (brute force
    IS every pair) — no whole-index collect; one window shuffle ranks."""
    from ..operators.similarity import topk_neighbors_distributed

    emb = load_table(spark, sf_dir, "embeddings")
    return topk_neighbors_distributed(
        emb, k=TOPK_K, query_filter=F.col("vec_id") < TOPK_QUERIES
    )


def _lsh_bucket_sql() -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{d}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(LSH_DIMS)
    )


IVF_CELLS = 16  # vectors with vec_id < IVF_CELLS are the centroids
IVF_PROBE = 4
# pooled IVF inverted file (assignment frame), one per (application, sf_dir)
_IVF_ASSIGN_MEMO: dict[tuple[str, str], DataFrame] = {}


# shared by sim_ann_ivf_topk (inline cell layout) and sim_ann_ivf_indexed
# (persisted partition-pruned layout): both must answer bit-identically
_IVF_ORACLE = f"""
    WITH e AS (
        SELECT vec_id,
               {normalized_sql("embedding", "nrm")} AS nv
        FROM (SELECT vec_id, embedding,
                     {norm_sql("embedding")} AS nrm
              FROM embeddings) raw
    ),
    cent AS (SELECT vec_id AS cid, nv AS cv FROM e WHERE vec_id < {IVF_CELLS}),
    scored AS (
        SELECT e.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({dot_double_sql("e.nv", "cent.cv")}, 6) DESC,
                            cent.cid
               ) AS crk
        FROM e CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid AS cell FROM scored WHERE crk = 1),
    probes AS (
        SELECT vec_id AS qid, cid AS pcell FROM scored
        WHERE crk <= {IVF_PROBE} AND vec_id < {TOPK_QUERIES}
    )
    SELECT vec_a, vec_b, cos_sim, rk FROM (
        SELECT p.qid AS vec_a, a.vec_id AS vec_b,
               ROUND({dot_double_sql("q.nv", "c.nv")}, 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY p.qid
                   ORDER BY ROUND({dot_double_sql("q.nv", "c.nv")}, 6) DESC,
                            a.vec_id
               ) AS rk
        FROM probes p
        JOIN assign a ON a.cell = p.pcell AND a.vec_id <> p.qid
        JOIN e q ON q.vec_id = p.qid
        JOIN e c ON c.vec_id = a.vec_id
    ) t WHERE rk <= {TOPK_K}
    """


@corpus_query("sim_ann_ivf_topk", oracle=_IVF_ORACLE)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{TOPK_K} neighbors via an IVF coarse quantizer:
    the first {IVF_CELLS} vectors act as deterministic centroids (no
    k-means — reproducible and oracle-expressible), every vector lives in
    its nearest centroid's cell, and each query scans only its
    {IVF_PROBE} nearest cells. The complementary scale path to sign-bit
    LSH: data-adaptive cells instead of fixed hyperplanes.

    Cell-partitioned layout: the only driver-side state is the
    (n_cells x dim) centroid matrix; vectors get their cell row-locally,
    query probes explode to {IVF_PROBE} cells, and a broadcast hash
    equi-join on the cell id prunes candidates BEFORE any full dot
    product — compute scales with n_probe/n_cells, not N^2. The
    assignment frame (the inverted file — exactly what the persisted
    twin writes to parquet) is pooled, so repeat queries probe a warm
    index instead of re-assigning the corpus."""
    from ..operators.similarity import ivf_topk_distributed

    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_pooled(spark, sf_dir)  # shared with sim_ivfpq_topk
    return ivf_topk_distributed(
        emb,
        index=index,
        k=TOPK_K,
        query_filter=F.col("vec_id") < TOPK_QUERIES,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
    )


@corpus_query(
    "sim_ivf_cell_stats",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               {normalized_sql("embedding", "nrm")} AS nv
        FROM (SELECT vec_id, embedding,
                     {norm_sql("embedding")} AS nrm
              FROM embeddings) raw
    ),
    cent AS (SELECT vec_id AS cid, nv AS cv FROM e WHERE vec_id < {IVF_CELLS}),
    scored AS (
        SELECT e.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({dot_double_sql("e.nv", "cent.cv")}, 6) DESC,
                            cent.cid
               ) AS crk
        FROM e CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid AS cell FROM scored WHERE crk = 1),
    tot AS (SELECT COUNT(*) AS n_total FROM assign)
    SELECT CAST(cell AS BIGINT) AS cell,
           COUNT(*) AS n_vectors,
           COUNT(*) * 1000000 // MAX(n_total) AS share_ppm,
           COUNT(*) * {IVF_CELLS} * 1000 // MAX(n_total) AS load_x1000
    FROM assign, tot GROUP BY cell
    """,
)
def sim_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-balance report: per-cell population, corpus share (ppm)
    and load factor vs uniform (x1000) — the operational diagnostic every
    production ANN deployment watches, because cell skew IS the serving
    cost model: a probe of the hottest cell scans ``load_factor`` times
    the uniform candidate count, so tail latency and the probe-join
    fan-out follow this table directly (at 100 TB a skewed quantizer is
    re-trained; this query is the trigger). r6 example of why it
    matters: `mm_simhash_payload`'s r5 banding looked fine until bucket
    occupancy was actually measured.

    Scale shape: ONE map-side-combinable groupBy over the pooled
    inverted file (shared with sim_ann_ivf_topk / sim_ivfpq_topk — a
    pool hit runs no assignment job), plus a broadcast 1-row total; K
    rows out. All outputs integer fixed-point (floor-division ppm /
    per-mille), zero ROUND-tie exposure."""
    index = _ivf_index_pooled(spark, sf_dir)
    total = index.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        index.groupBy(F.col("cell").cast("bigint").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vectors",
            F.expr("n_vectors * 1000000 div n_total").alias("share_ppm"),
            F.expr(f"n_vectors * {IVF_CELLS} * 1000 div n_total").alias(
                "load_x1000"
            ),
        )
    )


@corpus_query(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               {normalized_sql("embedding", "nrm")} AS nv,
               {_lsh_bucket_sql()} AS bucket
        FROM (SELECT vec_id, embedding,
                     {norm_sql("embedding")} AS nrm
              FROM embeddings) raw
    )
    SELECT vec_a, vec_b, bucket, cos_sim, rk FROM (
        SELECT q.vec_id AS vec_a, c.vec_id AS vec_b, q.bucket AS bucket,
               ROUND({dot_double_sql("q.nv", "c.nv")}, 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND({dot_double_sql("q.nv", "c.nv")}, 6) DESC,
                            c.vec_id
               ) AS rk
        FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {TOPK_QUERIES}
    ) t WHERE rk <= {TOPK_K}
    """,
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{TOPK_K} neighbors via sign-bit LSH: vectors bucket
    by the sign pattern of {len(LSH_DIMS)} fixed dimensions (a degenerate
    but deterministic random-hyperplane LSH); candidates are same-bucket
    only. The scale path: the pairwise work is gated on bucket equality,
    so cost drops by ~2^bits vs brute force, trading recall (measured
    against sim_topk_neighbors).

    Bucket-partitioned layout: candidates come from a broadcast hash
    equi-join on the bucket id — pruning happens in the JOIN, before any
    dot product runs, so pairwise compute is proportional to actual
    bucket collisions; no whole-index collect."""
    from ..operators.similarity import topk_neighbors_distributed

    emb = load_table(spark, sf_dir, "embeddings")
    return topk_neighbors_distributed(
        emb,
        k=TOPK_K,
        query_filter=F.col("vec_id") < TOPK_QUERIES,
        bucket_dims=LSH_DIMS,
    )


@corpus_query(
    "sim_dimension_stats",
    oracle="""
    WITH e AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    )
    SELECT dim,
           COUNT(*) AS n,
           MIN(x) AS min_val,
           MAX(x) AS max_val,
           COUNT(*) FILTER (x > 3.0 OR x < -3.0) AS n_outliers,
           COUNT(*) FILTER (x = 0.0) AS n_zeros
    FROM e GROUP BY dim
    """,
)
def sim_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding hygiene: value range, |x|>3 outlier count,
    and dead-dimension (zero) count across the corpus — the scan that
    catches a broken encoder or a collapsed dimension before any ANN
    index is built. posexplode + one aggregation on the dim key; every
    output is an exact comparison/count (means of floats are deliberately
    NOT emitted — double accumulation is partition-order-dependent and
    float->decimal rounding ties diverge across engines at high scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(x).alias("min_val"),
            F.max(x).alias("max_val"),
            F.count(F.when((x > 3.0) | (x < -3.0), 1)).alias("n_outliers"),
            F.count(F.when(x == 0.0, 1)).alias("n_zeros"),
        )
    )


# one persisted index per (application, sf_dir); built under an
# application-scoped temp dir so concurrent drivers never share paths
_IVF_INDEX_MEMO: dict[tuple[str, str], str] = {}


def _dataset_dirname(sf_dir: str) -> str:
    """Stable on-disk name for a dataset: basename for readability plus a
    hash of the FULL path — two datasets with equal basenames (/a/sf0.1
    vs /b/sf0.1) must never collide on the persisted index path."""
    import hashlib
    import os

    full = sf_dir.rstrip("/")
    digest = hashlib.sha256(full.encode("utf-8")).hexdigest()[:12]
    return f"{os.path.basename(full)}-{digest}"


@corpus_query("sim_ann_ivf_indexed", oracle=_IVF_ORACLE)
def sim_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} ANN served from the PERSISTED IVF index
    (operators/ann_index.py): one assignment pass materializes the corpus
    as cell-partitioned parquet plus a centroid side table; the query
    path then reads ONLY the probed cells — the IN-list lands on the
    partition column, so pruning happens at file listing, before any
    bytes are read. Same deterministic quantizer and fold-exact
    arithmetic as sim_ann_ivf_topk, hence the identical oracle: the
    driver hash-check proves the at-rest serving layout answers
    bit-identically to the inline operator."""
    import os
    import tempfile

    from ..operators.ann_index import build_ivf_index, query_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_INDEX_MEMO:
        base = os.path.join(
            tempfile.gettempdir(), f"spark_graft_ivf_{spark.sparkContext.applicationId}"
        )
        path = os.path.join(base, _dataset_dirname(sf_dir))
        build_ivf_index(emb, path, n_cells=IVF_CELLS)
        _IVF_INDEX_MEMO[key] = path
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES)
    return query_ivf_index(
        spark, _IVF_INDEX_MEMO[key], queries, k=TOPK_K, n_probe=IVF_PROBE
    )


# --------------------------------------------------------------- clustering

# quantized-normalized vector pool: shared by every _kmeans_fit consumer
_KMEANS_E_MEMO: dict[tuple[str, str], DataFrame] = {}
# trained-centroid pool: the Lloyd LOOP (train) runs once per
# (dataset, k, rounds); the final assignment (serve) stays lazy lineage
# so every consumer's plan keeps the broadcast-assignment shape.
# max_size=2: the graded corpus runs k=8 and k=32 side by side
_KMEANS_CENTS_MEMO: dict[tuple[str, str, int, int], DataFrame] = {}

KMEANS_K = 8  # vectors with vec_id < KMEANS_K seed the centroids
KMEANS_ROUNDS = 2
KMEANS_Q = 6  # input quantization decimals (makes centroid means exact)


def _kmeans_ctes(k: int = KMEANS_K) -> str:
    """WITH-body of the unrolled-CTE Lloyd loop (the fixed round count
    lets the iteration be expressed as plain SQL); final assignments in
    ``a2``, quantized-normalized vectors in ``e``. Shared by the
    clustering oracle and the cluster-blocked semantic dedup oracles —
    ``k`` parameterized so graded entries can exercise the k dial."""
    from ..functions.vectors import dot_double_sql, norm_sql, normalized_sql

    def assign(cents: str, out: str) -> str:
        return f"""
    {out} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dot_double_sql("e.nv", "c.cv")} DESC, c.cid
                   ) AS rk
            FROM e, {cents} c
        ) t WHERE rk = 1
    )"""

    return f"""raw AS (
        SELECT vec_id, embedding, {norm_sql("embedding")} AS nrm FROM embeddings
    ),
    e AS (
        SELECT vec_id,
               list_transform({normalized_sql("embedding", "nrm")},
                              x -> round(x, {KMEANS_Q})) AS nv
        FROM raw
    ),
    c0 AS (SELECT vec_id AS cid, nv AS cv FROM e WHERE vec_id < {k}),
    {assign("c0", "a1")},
    d1 AS (
        SELECT a1.cid, a1.vec_id, unnest(range(1, len(e.nv) + 1)) AS i
        FROM a1 JOIN e USING (vec_id)
    ),
    u1 AS (
        SELECT d1.cid, d1.i,
               CAST(SUM(CAST(e.nv[d1.i] AS DECIMAL(18,{KMEANS_Q}))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM d1 JOIN e USING (vec_id)
        GROUP BY d1.cid, d1.i
    ),
    c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM u1 GROUP BY cid),
    {assign("c1", "a2")}"""


def _kmeans_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()}
    SELECT vec_id, cid AS cluster FROM a2
    """


@corpus_query("cluster_kmeans_embeddings", oracle=_kmeans_oracle())
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document clustering: {KMEANS_ROUNDS} Lloyd iterations of spherical
    k-means (k={KMEANS_K}) over unit-normalized embeddings — the
    workhorse for corpus topic bucketing and for training IVF coarse
    quantizers. Deterministic end to end: seeds are the first
    {KMEANS_K} vectors, assignment ties break on centroid id, and inputs
    are quantized to {KMEANS_Q} decimals so the centroid-update mean is
    an EXACT decimal sum (order-independent, hence partition-independent
    and bit-identical in DuckDB — a raw double mean would vary with
    Spark's partial-aggregate merge order).

    Scale: assignment is a broadcast nested-loop against k centroids
    (no shuffle of the vectors); the update is one posexplode +
    map-side-combinable groupBy per round — per-round cost is a scan,
    exactly how you'd run Lloyd on 100 TB. Centroids (k x dim doubles)
    are the only driver-resident state."""
    _, asg, _ = _kmeans_fit(spark, sf_dir)
    return asg.select("vec_id", F.col("cid").alias("cluster"))


def _kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
) -> tuple[DataFrame, DataFrame]:
    """Run the deterministic Lloyd loop; returns (quantized-normalized
    vectors ``(vec_id, nv)``, final assignments ``(vec_id, cid)``,
    final centroids ``(cid, cv)``).

    ``k`` is the production scale dial: downstream blocking costs scale
    with cluster POPULATION (sum n_c^2 for pairwise work), so k must grow
    with corpus size to hold n_c at a target — k = N / n_target, not a
    constant (measured: holding k=8 while 10x-ing the vectors turned the
    blocked-dedup self-join superlinear; see SCALE.md). The graded corpus
    entries pin k={KMEANS_K} to match the fixed-k SQL oracle."""
    from pyspark.sql import Window

    from ..functions.numeric import dec
    from ..functions.vectors import dot_prenorm, norm, normalized

    def build_e() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        nrm = norm("embedding")
        out = emb.select(
            "vec_id",
            F.transform(
                normalized("embedding", nrm), lambda x: F.round(x, KMEANS_Q)
            ).alias("nv"),
        ).cache()
        out.count()  # materialize at build: pool hits run no job
        return out

    # pooled (bounded LRU, plans/pooling.py): three graded queries share
    # this frame; without the pool each call persisted a fresh copy with
    # no unpersist — storage-memory creep in a long-lived driver
    e = bounded_cached(
        _KMEANS_E_MEMO, (spark.sparkContext.applicationId, sf_dir), build_e
    )

    def assign(cents: DataFrame) -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
        return (
            e.crossJoin(F.broadcast(cents))
            .select("vec_id", "cid", dot_prenorm("nv", "cv").alias("sim"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cid")
        )

    def build_cents() -> DataFrame:
        cents = e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("nv").alias("cv")
        )
        for _ in range(rounds - 1):
            asg = assign(cents)
            upd = (
                asg.join(e, "vec_id")
                .select("cid", F.posexplode("nv").alias("pos", "v"))
                .groupBy("cid", "pos")
                .agg(
                    (
                        F.sum(dec(F.col("v"), 18, KMEANS_Q)).cast("double")
                        / F.count(F.lit(1))
                    ).alias("m")
                )
            )
            cents = upd.groupBy("cid").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        out = cents.cache()
        out.count()  # materialize the k-row trained quantizer at build
        return out

    # training pooled (the Lloyd loop is the expensive, reusable part);
    # the final assignment below stays lazy serving lineage, so every
    # consumer's plan keeps the broadcast-assignment shape
    cents = bounded_cached(
        _KMEANS_CENTS_MEMO,
        (spark.sparkContext.applicationId, sf_dir, k, rounds),
        build_cents,
        max_size=2,
    )
    return e, assign(cents), cents


SEMANTIC_BLOCK_THRESHOLD = 0.4  # same bar as dedup_embedding_cosine
# per-cluster population cap for the graded *_capped twin. Σ n_c² is the
# blocking cost; capping n_c bounds it regardless of how k relates to N
# (at sf0.01: 500 vectors / 8 clusters ≈ 62 mean population, so cap 32
# genuinely prunes — the pruning path is exercised, not vacuous).
SEMANTIC_CLUSTER_CAP = 32


def _semantic_blocked_oracle(
    cluster_cap: int | None = None, k: int = KMEANS_K
) -> str:
    from ..functions.vectors import dot_double_sql

    cs = dot_double_sql("x.nv", "y.nv")
    # cluster_cap mirror: keep the cap lowest-vec_id members per cluster
    # BEFORE pair generation — identical to the Spark row_number window
    v_cte = "v AS (SELECT a2.vec_id, a2.cid, e.nv FROM a2 JOIN e USING (vec_id))"
    if cluster_cap is not None:
        v_cte = f"""v0 AS (
        SELECT a2.vec_id, a2.cid, e.nv FROM a2 JOIN e USING (vec_id)
    ),
    v AS (
        SELECT vec_id, cid, nv FROM (
            SELECT vec_id, cid, nv,
                   ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
            FROM v0
        ) t WHERE rn <= {cluster_cap}
    )"""
    return f"""
    WITH {_kmeans_ctes(k)},
    {v_cte}
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           ROUND({cs}, 6) AS cos_sim
    FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE {cs} >= {SEMANTIC_BLOCK_THRESHOLD}
    """


# NOT a graded corpus entry (de-registered in r5): the fixed-k uncapped
# shape is the PEDAGOGICAL CONTRAST for the two production levers below —
# its measured 10x-data ratio is ~26x (SCALE.md), and the corpus policy is
# that no graded query ships a known-superlinear plan. The function stays:
# the capped/scaled-k graded twins call it, tests/test_operator_properties
# pins cap-monotonicity through it, and SCALE.md keeps it as the honest
# contrast row.
def dedup_semantic_blocked(
    spark: SparkSession,
    sf_dir: str,
    *,
    cluster_cap: int | None = None,
    k: int = KMEANS_K,
) -> DataFrame:
    """Clustering-accelerated semantic dedup: k-means cluster ids act as
    BLOCKING keys, so exact cosine runs only on same-cluster pairs —
    candidate count drops from N²/2 to Σ n_c²/2 while high-similarity
    pairs (which co-cluster by construction — both land nearest the same
    centroid) survive. The standard recall/cost dial for semantic dedup
    at corpus scale: more clusters = fewer pairs, slightly lower recall;
    compose with the block-grid within giant clusters if needed.

    Plan: one shuffle of (vec_id, nv, cid) on the cluster key, then a
    same-key self-join — no cross-cluster pair is ever materialized.
    Oracle shares the unrolled Lloyd CTEs, so the cluster assignment and
    the pair scores are both bit-exact.

    ``cluster_cap``: the production guardrail against the Σ n_c² blow-up
    when k is held while N grows (the measured 21.5×-at-10× outlier,
    SCALE.md) — clusters keep only their ``cluster_cap`` lowest-vec_id
    members before pairing, bounding within-cluster work at cap²/2
    regardless of population. The row_number window runs on the SAME key
    (cid) the self-join shuffles on, so the cap adds no shuffle shape.
    Production composes both levers: k = N / n_target for recall, the
    cap as the hard bound. Default None = uncapped (oracle-checked
    fixed-k shape)."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_prenorm

    e, asg, _ = _kmeans_fit(spark, sf_dir, k=k)
    v = e.join(asg, "vec_id")
    if cluster_cap is not None:
        wcap = Window.partitionBy("cid").orderBy("vec_id")
        v = (
            v.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= cluster_cap)
            .drop("__rn")
        )
    x = v.alias("x")
    y = v.alias("y")
    cs = dot_prenorm(F.col("x.nv"), F.col("y.nv"))
    return (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.cid"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            cs.alias("cs"),
        )
        .filter(F.col("cs") >= SEMANTIC_BLOCK_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cs", 6).alias("cos_sim"))
    )


# the k-scaling rule made concrete at the oracle scale: k = N / n_target
# with N=500 vectors and a target population of ~16 per cluster -> k=32.
# (At 10x the data the same rule gives k=320; the graded entry pins the
# sf0.01 instantiation because the SQL oracle unrolls a fixed-k loop.)
SEMANTIC_SCALED_K = 32


@corpus_query(
    "dedup_semantic_blocked_scaled_k",
    oracle=_semantic_blocked_oracle(k=SEMANTIC_SCALED_K),
)
def dedup_semantic_blocked_scaled_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER production lever for cluster-blocked semantic dedup,
    graded: k scaled with corpus size (k = N / n_target = {SEMANTIC_SCALED_K}
    at sf0.01) instead of the fixed k={KMEANS_K} — cluster populations,
    and with them the Σ n_c² pairwise cost, stay bounded per unit of
    data. This is the recall-preserving dial (near-identical pairs still
    co-cluster under finer centroids); the population cap
    (dedup_semantic_blocked_capped) is the complementary hard bound.
    Production composes both. Same parameterized Lloyd-CTE oracle, so
    the scaled-k pipeline is hash-checked end to end."""
    return dedup_semantic_blocked(spark, sf_dir, k=SEMANTIC_SCALED_K)


@corpus_query(
    "dedup_semantic_blocked_capped",
    oracle=_semantic_blocked_oracle(cluster_cap=SEMANTIC_CLUSTER_CAP),
)
def dedup_semantic_blocked_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of cluster-blocked semantic dedup:
    ``cluster_cap`` ON, so a cluster contributes at most cap²/2 pairs no
    matter how its population grows — the guardrail that collapses the
    fixed-k Σ n_c² blow-up (measured 21.5× runtime at 10× data in
    SCALE.md) back to ~linear. Like the band/shingle caps, the lever only
    removes CANDIDATES (kept pairs score exactly); the oracle mirrors the
    per-cluster row_number window verbatim, so this twin is
    driver-hash-checked, not pytest-approximated."""
    return dedup_semantic_blocked(
        spark, sf_dir, cluster_cap=SEMANTIC_CLUSTER_CAP
    )


# ------------------------------------------------- product quantization ANN

# PQ subspace-split pool: shared by sim_pq_topk's repeat calls
_PQ_SUBS_MEMO: dict[tuple[str, str], DataFrame] = {}
# encoded-codes pool: the warm-path serving artifact (scalars only)
_PQ_CODES_MEMO: dict[tuple[str, str], DataFrame] = {}

PQ_M = 4  # subspaces (dim 64 -> 4 x 16)
PQ_SUBDIM = 16
PQ_CODES = 16  # codewords per subspace (subvectors of vec_id < PQ_CODES)


def _pq_score_sql() -> str:
    return " + ".join(f"p{m}" for m in range(PQ_M))


def _pq_ctes() -> str:
    """Shared CTE body (raw → e → subs → cb → codes → lut → scored) for
    every PQ oracle — the ADC pipeline up to the per-pair pivoted
    partial-dot sums."""
    sub_expr = (
        f"list_slice(nv, u.m * {PQ_SUBDIM} + 1, (u.m + 1) * {PQ_SUBDIM})"
    )
    sqdist = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),"
        f" i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i])))"
    )
    pivot = ", ".join(
        f"MAX(CASE WHEN x.m = {m} THEN l.pdot END) AS p{m}"
        for m in range(PQ_M)
    )
    return f"""
    raw AS (
        SELECT vec_id, embedding, {norm_sql("embedding")} AS nrm FROM embeddings
    ),
    e AS (
        SELECT vec_id, {normalized_sql("embedding", "nrm")} AS nv FROM raw
    ),
    subs AS (
        SELECT vec_id, u.m, {sub_expr} AS sub
        FROM e, (SELECT unnest(range(0, {PQ_M})) AS m) u
    ),
    cb AS (
        SELECT m, vec_id AS code, sub AS cw FROM subs WHERE vec_id < {PQ_CODES}
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {sqdist} ASC, c.code ASC
                   ) AS rk
            FROM subs s JOIN cb c ON c.m = s.m
        ) t WHERE rk = 1
    ),
    lut AS (
        SELECT s.vec_id AS qid, s.m, c.code,
               {dot_double_sql("s.sub", "c.cw")} AS pdot
        FROM subs s JOIN cb c ON c.m = s.m
        WHERE s.vec_id < {TOPK_QUERIES}
    ),
    scored AS (
        SELECT l.qid, x.vec_id, {pivot}
        FROM codes x JOIN lut l ON l.m = x.m AND l.code = x.code
        GROUP BY l.qid, x.vec_id
    )"""


def _pq_oracle() -> str:
    score = _pq_score_sql()
    return f"""
    WITH {_pq_ctes()}
    SELECT qid, vec_id, approx_score, rank FROM (
        SELECT qid, vec_id, ROUND({score}, 6) AS approx_score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY {score} DESC, vec_id ASC
               ) AS rank
        FROM scored
    ) t WHERE rank <= {TOPK_K}
    """


@corpus_query("sim_pq_topk", oracle=_pq_oracle())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} ANN via product quantization with asymmetric distance
    computation (ADC) — the memory-compressed serving layout: each vector
    is stored as {PQ_M} one-byte codes ({PQ_M * PQ_SUBDIM}-dim split into
    {PQ_M} subspaces, each snapped to its nearest of {PQ_CODES}
    deterministic codewords), a ~{8 * PQ_SUBDIM}x compression. At query
    time each query precomputes a {PQ_M}x{PQ_CODES} partial-dot lookup
    table; candidate scores are LUT joins on the CODES — the original
    vectors are never read at serve time, which is what makes a 100 TB
    corpus fit a serving tier.

    Parity: assignment and LUT entries are deterministic folds; the
    per-pair score sums its {PQ_M} partial dots via a fixed-order pivot
    (p0+p1+p2+p3), not an order-dependent SUM, so both engines add the
    same doubles in the same order — the oracle computes the identical
    approximation and the driver hash-matches exactly.

    Scale: codes/LUT/scored frames carry only scalars (the one array
    stage, encoding, is a broadcast join against {PQ_M}x{PQ_CODES}
    codewords); the scored fan-out is N x {PQ_M} x n_queries rows — the
    classic linear ADC scan, shuffled only for the per-query top-k."""
    from ..operators.pq import pq_adc_topk

    codes, lut = _pq_codes_and_lut(spark, sf_dir)
    return pq_adc_topk(codes, lut, m=PQ_M, k=TOPK_K)


def _pq_subs_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subspace-split frame, pooled (bounded LRU): codebook, encode
    and LUT all traverse it; materialized once at build so pool hits run
    no job."""
    from ..operators.pq import normalized_vectors, pq_subspaces

    def build_subs() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        out = pq_subspaces(
            normalized_vectors(emb), m=PQ_M, subdim=PQ_SUBDIM
        ).cache()
        out.count()
        return out

    return bounded_cached(
        _PQ_SUBS_MEMO, (spark.sparkContext.applicationId, sf_dir), build_subs
    )


def _pq_codes_and_lut(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared ADC front half: encoded corpus codes + the per-query LUT.
    The CODES frame is pooled too — encoding (a corpus-wide nearest-
    codeword window) is the expensive half of every warm PQ pass, and
    its output is scalars only (vec_id, m, code): tiny to keep resident,
    exactly what the persisted-index twin stores on disk."""
    from ..operators.pq import pq_codebook, pq_encode, pq_lut

    subs = _pq_subs_pooled(spark, sf_dir)
    cb = pq_codebook(subs, n_codes=PQ_CODES)

    def build_codes() -> DataFrame:
        out = pq_encode(subs, cb).cache()
        out.count()
        return out

    codes = bounded_cached(
        _PQ_CODES_MEMO,
        (spark.sparkContext.applicationId, sf_dir),
        build_codes,
    )
    lut = pq_lut(subs.filter(F.col("vec_id") < TOPK_QUERIES), cb)
    return codes, lut


PQ_REFINE_R = 20  # ADC shortlist size handed to the exact re-rank


def _pq_refined_oracle() -> str:
    score = _pq_score_sql()
    exact = dot_double_sql("eq.nv", "ec.nv")
    return f"""
    WITH {_pq_ctes()},
    short AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY {score} DESC, vec_id ASC
                   ) AS rk
            FROM scored
        ) t WHERE rk <= {PQ_REFINE_R}
    )
    SELECT qid, vec_id, exact_score, rank FROM (
        SELECT s.qid, s.vec_id,
               ROUND({exact}, 6) AS exact_score,
               ROW_NUMBER() OVER (
                   PARTITION BY s.qid
                   ORDER BY ROUND({exact}, 6) DESC, s.vec_id ASC
               ) AS rank
        FROM short s
        JOIN e eq ON eq.vec_id = s.qid
        JOIN e ec ON ec.vec_id = s.vec_id
    ) t WHERE rank <= {TOPK_K}
    """


@corpus_query("sim_pq_refined", oracle=_pq_refined_oracle())
def sim_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ shortlist → EXACT re-rank: the production recall-repair recipe
    (Jégou et al. §V: ADC search, then re-rank the shortlist with true
    distances). The compressed scan nominates {PQ_REFINE_R} candidates
    per query from the codes alone; only those {PQ_REFINE_R} rows per
    query then read the real vectors for an exact rounded-cosine top-k.
    Two-stage ANN bounds the exact-arithmetic cost at n_queries x
    {PQ_REFINE_R} pairs regardless of corpus size — the quantization
    error that caps sim_pq_topk's ranking quality is repaired wherever
    the true neighbor made the shortlist.

    Scale: stage 1 is the linear ADC code scan (scalars only); stage 2
    fetches vectors via an equi-join on vec_id for n_queries x
    {PQ_REFINE_R} rows — a semi-join-sized read of the corpus, with the
    query vectors broadcast. Ranking uses the ROUNDED score (6 dp) with
    a vec_id tie-break, same determinism contract as the IVF family."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_prenorm, normalized
    from ..operators.pq import pq_adc_topk

    codes, lut = _pq_codes_and_lut(spark, sf_dir)
    short = pq_adc_topk(codes, lut, m=PQ_M, k=PQ_REFINE_R).select(
        "qid", "vec_id"
    )
    # fetch RAW vectors for the shortlist and normalize AFTER the join:
    # the corpus side is then a plain column-pruned parquet probe — the
    # interpreted normalize fold runs on n_queries x R fetched rows, not
    # on the whole corpus (measured 4x at the 10x spot-check scale)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
    )
    fetched = (
        short.join(F.broadcast(q), "qid")
        .join(emb, "vec_id")
        .select(
            "qid",
            "vec_id",
            "qemb",
            "embedding",
            norm("qemb").alias("qn"),
            norm("embedding").alias("cn"),
        )
        .select(
            "qid",
            "vec_id",
            normalized("qemb", "qn").alias("qv"),
            normalized("embedding", "cn").alias("nv"),
        )
    )
    # roundfx, not ROUND: the re-rank KEY must be tie-deterministic
    # across engines (ADVICE r5) — Spark/DuckDB ROUND(double, 6) diverge
    # on exact half-boundary ties, which would both reorder the top-k
    # selection and change the emitted score
    scored = fetched.select(
        "qid",
        "vec_id",
        roundfx(dot_prenorm("qv", "nv")).alias("exact_score"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.desc("exact_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= TOPK_K)
        .select("qid", "vec_id", "exact_score", "rank")
    )



# one persisted PQ codes table per (application, sf_dir)
_PQ_INDEX_MEMO: dict[tuple[str, str], str] = {}


@corpus_query("sim_pq_indexed", oracle=_pq_oracle())
def sim_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} ANN served from the PERSISTED PQ codes table
    (operators/pq.py): one encode pass materializes each vector as
    {PQ_M} small ints plus the {PQ_M}x{PQ_CODES} codebook side table;
    the query path reads ONLY those two artifacts — the corpus
    embeddings are never opened at serve time (plan-asserted). Same
    deterministic folds and fixed-order ADC sum as sim_pq_topk, hence
    the identical oracle: the driver hash-check proves the compressed
    at-rest tier answers bit-identically to the inline operator."""
    import os
    import tempfile

    from ..operators.pq import build_pq_index, query_pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_INDEX_MEMO:
        base = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_pq_{spark.sparkContext.applicationId}",
        )
        path = os.path.join(base, _dataset_dirname(sf_dir))
        build_pq_index(emb, path, m=PQ_M, subdim=PQ_SUBDIM, n_codes=PQ_CODES)
        _PQ_INDEX_MEMO[key] = path
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES)
    return query_pq_index(
        spark, _PQ_INDEX_MEMO[key], queries, m=PQ_M, subdim=PQ_SUBDIM, k=TOPK_K
    )



@corpus_query(
    "sim_ann_ivf_kmeans",
    oracle=f"""
    WITH {_kmeans_ctes()},
    q AS (SELECT vec_id, nv FROM e WHERE vec_id < {TOPK_QUERIES}),
    probes AS (
        SELECT vec_id AS qid, cid FROM (
            SELECT q.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {dot_double_sql("q.nv", "c.cv")} DESC, c.cid
                   ) AS rk
            FROM q, c1 c
        ) t WHERE rk <= {IVF_PROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id AS vec_b
        FROM probes p JOIN a2 a ON a.cid = p.cid AND a.vec_id <> p.qid
    )
    SELECT qid, vec_b, cos_sim, rank FROM (
        SELECT cand.qid, cand.vec_b,
               ROUND({dot_double_sql("eq.nv", "eb.nv")}, 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY cand.qid
                   ORDER BY ROUND({dot_double_sql("eq.nv", "eb.nv")}, 6) DESC,
                            cand.vec_b
               ) AS rank
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e eb ON eb.vec_id = cand.vec_b
    ) t WHERE rank <= {TOPK_K}
    """,
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from the TRAINED coarse quantizer: cells are the
    spherical-k-means clusters (not the first-K seed vectors of
    sim_ann_ivf_topk), so cell boundaries adapt to the data — the
    production IVF recipe (train centroids, assign corpus, probe nearest
    cells). Recall beats the untrained quantizer at equal n_probe
    because balanced, data-shaped cells waste fewer probes.

    Same distributed shape as the untrained variant: centroids broadcast
    for probing, candidates from a hash equi-join on the cell id,
    exact rounded-cosine rank within the probed cells. The oracle
    composes the unrolled Lloyd CTEs with the IVF serving query, so the
    full train->assign->probe->rank pipeline is hash-checked end to
    end."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_prenorm

    e, asg, cents = _kmeans_fit(spark, sf_dir)
    q = e.filter(F.col("vec_id") < TOPK_QUERIES)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", dot_prenorm("nv", "cv").alias("sim"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= IVF_PROBE)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    cand = probes.join(
        asg.withColumnRenamed("vec_id", "vec_b"), "cid"
    ).filter(F.col("vec_b") != F.col("qid"))
    eq = q.select(F.col("vec_id").alias("qid"), F.col("nv").alias("qnv"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("nv").alias("bnv"))
    cos = F.round(dot_prenorm("qnv", "bnv"), 6)
    wr = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return (
        cand.join(F.broadcast(eq), "qid")
        .join(eb, "vec_b")
        .select("qid", "vec_b", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPK_K)
        .select("qid", "vec_b", "cos_sim", "rank")
    )


# ------------------------------------------------------- ANN recall reports


def _recall_vs_exact_oracle(approx_oracle: str) -> str:
    """Composes an approx-ANN oracle with the exact brute-force oracle
    (both reused VERBATIM from their registered entries, so the recall
    check can never drift from what those queries are graded on) and
    scores recall@k per query via a pair-id join."""
    from .corpus import get_query

    exact_oracle = get_query("sim_topk_neighbors").oracle
    return f"""
    WITH ex AS (SELECT vec_a, vec_b FROM ({exact_oracle}) tex),
    ap AS (SELECT vec_a, vec_b FROM ({approx_oracle}) tap),
    hits AS (
        SELECT ex.vec_a, COUNT(*) AS n_hit
        FROM ex JOIN ap ON ap.vec_a = ex.vec_a AND ap.vec_b = ex.vec_b
        GROUP BY ex.vec_a
    ),
    ap_n AS (SELECT vec_a, COUNT(*) AS n_approx FROM ap GROUP BY vec_a)
    SELECT q.vec_a,
           CAST({TOPK_K} AS BIGINT) AS n_exact,
           COALESCE(ap_n.n_approx, 0) AS n_approx,
           COALESCE(hits.n_hit, 0) AS n_hit,
           ROUND(COALESCE(hits.n_hit, 0) / CAST({TOPK_K} AS DOUBLE), 6)
               AS recall_at_k
    FROM (SELECT DISTINCT vec_a FROM ex) q
    LEFT JOIN ap_n USING (vec_a)
    LEFT JOIN hits USING (vec_a)
    """


# _pairs_local budget: k x n_queries id pairs by the TOPK contract
# (20 queries x 10 neighbors today). Enforced, not narrated (r10
# advisory) — a pair frame that outgrows this is no longer bounded
# driver state and must stay a distributed frame.
MAX_LOCAL_PAIR_ROWS = 100_000


def _pairs_local(df: DataFrame) -> DataFrame:
    """Materialize a contract-bounded pair frame (k x n_queries rows) as
    a driver-local relation. The recall reports traverse each pair frame
    2-3 times; without this, every traversal re-executes the frame's
    full lineage. Collecting is within the bounded-driver-state
    contract: these are id pairs, the same budget as the IVF centroids —
    ENFORCED by ``MAX_LOCAL_PAIR_ROWS`` (raises, names the alternative).
    (The constituent pipelines' PLANS are invariant-checked through
    their own corpus entries — the recall reports intentionally compose
    materialized pair sets, not live subtrees.)

    LIMIT-bounded collect (r11 ADVICE): at most MAX+1 rows ever reach
    the driver — the guard fires before an oversized frame could OOM it,
    not after the collect happens to survive."""
    spark = df.sparkSession
    rows = df.limit(MAX_LOCAL_PAIR_ROWS + 1).collect()
    if len(rows) > MAX_LOCAL_PAIR_ROWS:
        raise ValueError(
            "_pairs_local: more than MAX_LOCAL_PAIR_ROWS="
            f"{MAX_LOCAL_PAIR_ROWS} rows; a pair frame this large is not"
            " bounded driver state — keep it distributed (cache() the"
            " frame and let the report traverse the cached plan)"
        )
    return spark.createDataFrame(rows, df.schema)


# the exact brute-force baseline pairs, shared by ALL recall reports:
# one N^2 execution per (application, dataset), then a 100-row local
# frame serves every report
_EXACT_PAIRS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _exact_pairs_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return _pairs_local(
            sim_topk_neighbors(spark, sf_dir).select("vec_a", "vec_b")
        )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EXACT_PAIRS_MEMO:
        while len(_EXACT_PAIRS_MEMO) >= 2:  # local relations: plain pop,
            # nothing persisted to unpersist
            _EXACT_PAIRS_MEMO.pop(next(iter(_EXACT_PAIRS_MEMO)))
        _EXACT_PAIRS_MEMO[key] = build()
    return _EXACT_PAIRS_MEMO[key]


def _recall_report(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of ``approx`` against ``exact`` (both
    (vec_a, vec_b) pair frames). Moves only id pairs — 2·k·|queries|
    rows — regardless of corpus size. Callers pass frames through
    :func:`_pairs_local` so the multi-traversal report never re-executes
    the underlying scans."""
    hits = (
        exact.join(approx, ["vec_a", "vec_b"], "left_semi")
        .groupBy("vec_a")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ap_n = approx.groupBy("vec_a").agg(F.count(F.lit(1)).alias("n_approx"))
    qids = exact.select("vec_a").distinct()
    return (
        qids.join(ap_n, "vec_a", "left")
        .join(hits, "vec_a", "left")
        .select(
            "vec_a",
            F.lit(TOPK_K).cast("long").alias("n_exact"),
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(TOPK_K)), 6
            ).alias("recall_at_k"),
        )
    )


def _lsh_recall_oracle() -> str:
    from .corpus import get_query

    return _recall_vs_exact_oracle(get_query("sim_ann_lsh_topk").oracle)


@corpus_query("sim_ann_lsh_recall", oracle=_lsh_recall_oracle())
def sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK_K} of the sign-bit LSH ANN against the exact
    brute-force baseline, per query vector — ANN QUALITY as a graded,
    hash-checked corpus result rather than a pytest-only observation.
    Both rankings are deterministic (rounded cosine + vec_id tie-break),
    so the intersection — and therefore the recall — is exact and
    engine-independent; queries whose bucket holds fewer than k
    candidates (or none) surface with n_approx < k and proportionally
    lower recall, which is precisely the capacity/recall trade the
    bucket-bit count dials. (Measured mean recall ~0.12 at sf0.01: the
    4-fixed-dim sign hash is deliberately degenerate for oracle
    determinism — this report is what exposes it, and what motivates the
    IVF path below.)"""
    exact = _exact_pairs_local(spark, sf_dir)
    approx = _pairs_local(sim_ann_lsh_topk(spark, sf_dir).select("vec_a", "vec_b"))
    return _recall_report(exact, approx)


def _ivf_recall_oracle() -> str:
    return _recall_vs_exact_oracle(_IVF_ORACLE)


@corpus_query("sim_ann_ivf_recall", oracle=_ivf_recall_oracle())
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK_K} of the IVF ANN ({IVF_PROBE}/{IVF_CELLS} cells
    probed) against the exact baseline — the data-adaptive quantizer's
    quality twin to sim_ann_lsh_recall, sharing its oracle composition
    (both constituent oracles reused verbatim). Together the two reports
    make the recall/cost frontier a graded corpus fact: prune rate is
    runtime (sim_ann_* bench), recall is quality (these)."""
    exact = _exact_pairs_local(spark, sf_dir)
    approx = _pairs_local(sim_ann_ivf_topk(spark, sf_dir).select("vec_a", "vec_b"))
    return _recall_report(exact, approx)


SQ8_LEVELS = 127  # symmetric int8: codes in [-127, 127]


def _sq8_oracle() -> str:
    code_of = (
        f"list_transform(range(1, len(nv) + 1), "
        f"i -> CASE WHEN sc[i] > 0 "
        f"THEN CAST(ROUND(nv[i] / sc[i] * {SQ8_LEVELS}) AS BIGINT) "
        f"ELSE 0 END)"
    )
    return f"""
    {_NORM_CTE},
    dims AS (
        SELECT generate_subscripts(nv, 1) AS dim, unnest(nv) AS x FROM e
    ),
    scstat AS (SELECT dim, MAX(ABS(x)) AS s FROM dims GROUP BY dim),
    scales AS (SELECT list(s ORDER BY dim) AS sc FROM scstat),
    codes AS (
        SELECT vec_id, {code_of} AS c FROM e, scales
    ),
    qcodes AS (
        SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < {TOPK_QUERIES}
    ),
    scored AS (
        SELECT q.qid, x.vec_id,
               CAST(list_sum(list_transform(range(1, len(x.c) + 1),
                    i -> q.qc[i] * x.c[i])) AS BIGINT) AS qdot
        FROM qcodes q, codes x
    )
    SELECT qid, vec_id, qdot, rank FROM (
        SELECT qid, vec_id, qdot,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY qdot DESC, vec_id ASC
               ) AS rank
        FROM scored
    ) t WHERE rank <= {TOPK_K}
    """


# SQ8 encoded-codes pool: one resident copy per (application, sf_dir)
_SQ8_CODES_MEMO: dict[tuple[str, str], DataFrame] = {}


def _sq8_codes_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 code table (vec_id, c: array<long>), quantized JVM-side
    with the exact zip_with fold the oracle mirrors, cached under the
    bounded pool. Quantization stays in the JVM on purpose: round() at a
    .5 boundary is discontinuous, so the codes must come from the SAME
    expression tree in both engines — only the (order-insensitive,
    integer) dot product below is free to vectorize."""
    from ..operators.pq import normalized_vectors

    def build() -> DataFrame:
        e = normalized_vectors(load_table(spark, sf_dir, "embeddings"))
        dims = (
            e.select(F.posexplode("nv").alias("dim0", "x"))
            .groupBy("dim0")
            .agg(F.max(F.abs("x")).alias("s"))
        )
        scales = dims.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "s"))),
                lambda t: t["s"],
            ).alias("sc")
        )
        quant = lambda x, s: (  # noqa: E731
            F.when(s > 0, F.round(x / s * SQ8_LEVELS).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
        out = (
            e.crossJoin(F.broadcast(scales))
            .select("vec_id", F.zip_with("nv", "sc", quant).alias("c"))
            .cache()
        )
        out.count()
        return out

    return bounded_cached(
        _SQ8_CODES_MEMO, (spark.sparkContext.applicationId, sf_dir), build
    )


@corpus_query("sim_sq8_topk", oracle=_sq8_oracle())
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} ANN via symmetric INT8 scalar quantization (the
    FAISS SQ8 recipe): each dimension gets one scale (its max |value|
    over the unit-normalized corpus); components snap to
    round(x / scale * {SQ8_LEVELS}) ∈ [-{SQ8_LEVELS}, {SQ8_LEVELS}]; and
    similarity is the INTEGER dot of the code arrays — 4x smaller at
    rest than float32 and integer-SIMD at serve time. Completes the
    quantization ladder: sign-bit LSH (1 bit/vector) → IVF (prune) →
    PQ (codebook compression) → SQ8 (uniform per-dim compression).

    Parity is EXACT-by-construction: integer products and sums are
    associative, so unlike the float-dot family no fold-order discipline
    is needed — the codes come from the shared JVM expression tree (see
    _sq8_codes_pooled: rounding is the one discontinuous step, so it is
    NOT re-derived in Python) and their int64 matmul equals the oracle's
    fold bit-for-bit in any evaluation order.

    Scale: the linear code sweep runs as a partition-local int64 matmul
    against the bounded query-code matrix (collected by contract —
    {TOPK_QUERIES} x 64 longs, the same closure-state budget as the IVF
    centroids), each partition emitting only its LOCAL top-{TOPK_K} per
    query — k x n_partitions scalar rows shuffle to the global ranking
    window, the identical layout to the exact brute-force operator. A
    vectorized Arrow stage replaces the interpreted per-pair fold
    (measured ~6x on the sf0.1 bench)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    codes = _sq8_codes_pooled(spark, sf_dir)
    qrows = codes.filter(F.col("vec_id") < TOPK_QUERIES).collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = (
        np.stack([np.asarray(r["c"], dtype=np.int64) for r in qrows])
        if qrows
        else np.zeros((0, 0), dtype=np.int64)
    )
    kk = TOPK_K

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["c"]])
            dots = qmat @ cmat.T  # exact: |dot| <= 64 * 127^2 << 2^63
            out = {"qid": [], "vec_id": [], "qdot": []}
            for qi, qid in enumerate(qids):
                order = np.lexsort((ids, -dots[qi]))[:kk]
                out["qid"].extend([qid] * len(order))
                out["vec_id"].extend(ids[order])
                out["qdot"].extend(dots[qi, order])
            yield pd.DataFrame(out)

    scored = codes.mapInPandas(
        partial, schema="qid bigint, vec_id bigint, qdot bigint"
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= TOPK_K)
        .select("qid", "vec_id", "qdot", "rank")
    )


def _quant_recall_oracle() -> str:
    """Both quantized variants in one report: each approx oracle is
    reused VERBATIM (wrapped to pair-id form, self-hits dropped — the
    quantized rankings include the query itself, so one of their
    {TOPK_K} slots is structurally spent), composed with the exact
    baseline, and tagged with a variant literal."""
    pq = (
        f"SELECT qid AS vec_a, vec_id AS vec_b FROM ({_pq_oracle()}) tpq "
        f"WHERE qid <> vec_id"
    )
    pqr = (
        f"SELECT qid AS vec_a, vec_id AS vec_b "
        f"FROM ({_pq_refined_oracle()}) tpr WHERE qid <> vec_id"
    )
    sq = (
        f"SELECT qid AS vec_a, vec_id AS vec_b FROM ({_sq8_oracle()}) tsq "
        f"WHERE qid <> vec_id"
    )
    return f"""
    SELECT 'pq' AS variant, * FROM ({_recall_vs_exact_oracle(pq)}) a
    UNION ALL
    SELECT 'pq_refined' AS variant, * FROM ({_recall_vs_exact_oracle(pqr)}) r
    UNION ALL
    SELECT 'sq8' AS variant, * FROM ({_recall_vs_exact_oracle(sq)}) b
    """


@corpus_query("sim_quant_recall", oracle=_quant_recall_oracle())
def sim_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK_K} of the compressed-serving rankings — PQ/ADC, PQ
    with exact re-rank, and int8 SQ — against the exact brute-force
    baseline, tagged by variant. With sim_ann_lsh_recall and
    sim_ann_ivf_recall this makes recall a graded fact for every rung of
    the ANN ladder, and the pq → pq_refined delta measures the re-rank's
    recall repair itself (sf0.01 means: 0.21 → 0.40, sq8 0.75 vs the
    0.8 self-slot ceiling). Self-hits are dropped
    before scoring (the quantized rankings include the query vector, so
    one slot per query is structurally self), which is why n_approx
    < {TOPK_K}: the report shows the real serving penalty of not
    excluding self at scan time. Same bounded shape as the other recall
    reports: only id pairs move, 2·k·n_queries rows total."""
    exact = _exact_pairs_local(spark, sf_dir)

    def pairs(df: DataFrame) -> DataFrame:
        return _pairs_local(
            df.filter(F.col("qid") != F.col("vec_id")).select(
                F.col("qid").alias("vec_a"), F.col("vec_id").alias("vec_b")
            )
        )

    rep_pq = _recall_report(exact, pairs(sim_pq_topk(spark, sf_dir)))
    rep_pqr = _recall_report(exact, pairs(sim_pq_refined(spark, sf_dir)))
    rep_sq = _recall_report(exact, pairs(sim_sq8_topk(spark, sf_dir)))
    return (
        rep_pq.select(F.lit("pq").alias("variant"), "*")
        .unionByName(rep_pqr.select(F.lit("pq_refined").alias("variant"), "*"))
        .unionByName(rep_sq.select(F.lit("sq8").alias("variant"), "*"))
    )


def _ivfpq_oracle() -> str:
    """IVF cell pruning composed with PQ/ADC scoring: the IVF assignment
    CTEs (same conventions as _IVF_ORACLE — rounded cos + cid tiebreak)
    select WHICH codes are scored, the PQ CTEs say HOW. CTE names from
    _pq_ctes (raw/e/subs/cb/codes/lut/scored) are reused; the IVF half
    gets fresh names (cscore/cassign/cprobes)."""
    score = _pq_score_sql()
    return f"""
    WITH {_pq_ctes()},
    cent AS (SELECT vec_id AS cid, nv AS cv FROM e WHERE vec_id < {IVF_CELLS}),
    cscore AS (
        SELECT e.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({dot_double_sql("e.nv", "cent.cv")}, 6) DESC,
                            cent.cid
               ) AS crk
        FROM e CROSS JOIN cent
    ),
    cassign AS (SELECT vec_id, cid AS cell FROM cscore WHERE crk = 1),
    cprobes AS (
        SELECT vec_id AS qid, cid AS pcell FROM cscore
        WHERE crk <= {IVF_PROBE} AND vec_id < {TOPK_QUERIES}
    )
    SELECT qid, vec_id, approx_score, rank FROM (
        SELECT s.qid, s.vec_id, ROUND({score}, 6) AS approx_score,
               ROW_NUMBER() OVER (
                   PARTITION BY s.qid ORDER BY {score} DESC, s.vec_id ASC
               ) AS rank
        FROM scored s
        JOIN cprobes p ON p.qid = s.qid
        JOIN cassign a ON a.vec_id = s.vec_id AND a.cell = p.pcell
        WHERE s.vec_id <> s.qid
    ) t WHERE rank <= {TOPK_K}
    """


def _ivf_index_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pooled IVF inverted file (vec_b, cell, cnv) — the same frame
    (and the same pool entry) sim_ann_ivf_topk probes.

    Residual ROUND-tie exposure, documented (ADVICE r6, resolved-as-
    analysis r7): the centroid ASSIGNMENT inside ivf_assign_frame (and
    every oracle's ``cassign`` CTE) orders by a rounded cross-engine
    dot product — numpy blocked matmul on one side, the SQL fold on the
    other — whose raw doubles differ at ~1e-16 by summation order. The
    rounding to 1e-6 is what ALIGNS them; a value within ~2^-46 of a
    rounding boundary (zero observed across every sf sweep) could land
    on either side IN EITHER ENGINE, and that exposure is a property of
    the differing dot computations, NOT of the rounding function:
    migrating ROUND -> roundfx here (the r6 advice) would swap one
    boundary for an equally-exposed one, unlike the re-rank keys
    migrated in r5/r6, which round an IDENTICAL integer-derived double
    in both engines (there roundfx genuinely closes the class). The
    honest fix would be fixed-point quantization of the embeddings
    themselves — a semantic change to the whole similarity family that
    the measured-zero incidence does not justify. Standing doctrine
    stays: roundfx wherever both engines round the same double; rounded
    cross-engine floats only ever as a tolerance-alignment, with this
    bounded residual documented."""
    from ..operators.similarity import ivf_assign_frame

    emb = load_table(spark, sf_dir, "embeddings")

    def build_index() -> DataFrame:
        out = ivf_assign_frame(emb, n_cells=IVF_CELLS).cache()
        out.count()
        return out

    return bounded_cached(
        _IVF_ASSIGN_MEMO,
        (spark.sparkContext.applicationId, sf_dir),
        build_index,
    )


@corpus_query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: the FAISS-style composition that completes the ANN ladder —
    IVF cell pruning decides WHICH vectors are scored ({IVF_PROBE} of
    {IVF_CELLS} cells per query), PQ/ADC decides HOW (codes + LUT, no
    raw vectors at serve time). sim_ann_ivf_topk bounds the scan but
    still reads full vectors; sim_pq_topk compresses the scan but still
    touches every code; at 100 TB you need both: candidate volume drops
    to ~n_probe/n_cells x N AND each candidate costs {PQ_M} LUT lookups
    instead of a {PQ_M * PQ_SUBDIM}-dim dot.

    Plan shape: the candidate gate is an equi-join of the pooled
    inverted file against the broadcast (query, probed-cell) pairs; the
    gate joins codes on vec_id BEFORE the LUT join, so pruned codes
    never fan out per-query. Both halves reuse their families' pooled
    frames (assignment pool, codes pool) — an IVFPQ query on a warm
    serving tier runs no assignment or encode work at all.

    Self-pairs are excluded at the gate (the IVF family convention);
    determinism: rounded assignment + cid/code tiebreaks from the IVF
    half, fixed-order pivot sum from the PQ half."""
    import numpy as np

    from ..operators.pq import pq_adc_topk
    from ..operators.similarity import (
        _block_cos,
        _collect_centroids,
        _collect_queries,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_pooled(spark, sf_dir)

    # driver-side probe pairs from the bounded query set (the
    # ivf_topk_distributed recipe, minus qnv — scoring is ADC here)
    cent_ids, cmat = _collect_centroids(emb, IVF_CELLS)
    qids, qnv = _collect_queries(emb, F.col("vec_id") < TOPK_QUERIES)
    rows = []
    if len(qids):
        qsim_r = np.round(_block_cos(qnv, cmat), 6)
        for qi, qid in enumerate(qids):
            for c in cent_ids[np.lexsort((cent_ids, -qsim_r[qi]))][:IVF_PROBE]:
                rows.append((int(qid), int(c)))
    probes = spark.createDataFrame(rows, "qid bigint, pcell bigint")

    candidates = (
        index.join(F.broadcast(probes), index["cell"] == probes["pcell"])
        .filter(F.col("vec_b") != F.col("qid"))
        .select("qid", F.col("vec_b").alias("vec_id"))
    )
    codes, lut = _pq_codes_and_lut(spark, sf_dir)
    return pq_adc_topk(codes, lut, m=PQ_M, k=TOPK_K, candidates=candidates)


def _ivfpq_recall_oracle() -> str:
    return _recall_vs_exact_oracle(
        f"SELECT qid AS vec_a, vec_id AS vec_b FROM ({_ivfpq_oracle()}) ti"
    )


@corpus_query("sim_ivfpq_recall", oracle=_ivfpq_recall_oracle())
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK_K} of the IVFPQ composition against the exact
    baseline — with sim_ann_ivf_recall (pruning only) and
    sim_quant_recall's pq variant (compression only) this isolates HOW
    the two approximations compound: ivfpq recall <= min(ivf, pq)
    pointwise is not guaranteed, but the joint loss vs either single
    stage is exactly what this report grades. Self-pairs are excluded at
    the candidate gate, so unlike the pq variants no ranking slot is
    structurally spent on self."""
    exact = _exact_pairs_local(spark, sf_dir)
    approx = _pairs_local(
        sim_ivfpq_topk(spark, sf_dir).select(
            F.col("qid").alias("vec_a"), F.col("vec_id").alias("vec_b")
        )
    )
    return _recall_report(exact, approx)


# ------------------------------------------------------ MMR diversity


MMR_C = 32   # exact top-C shortlist fed to the re-rank
MMR_K = 8    # selections returned
# lambda = 0.7: score = 0.7 * relevance - 0.3 * max-sim-to-selected


def _mmr_oracle() -> str:
    """Greedy MMR unrolled into MMR_K chained CTEs (the PageRank
    technique applied to a selection loop): round i picks the argmax of
    ``0.7*rel - 0.3*redundancy`` over candidates not yet selected, where
    redundancy = max pair-sim to the i-1 already-selected rows. All sims
    are ROUND(.,6) of deterministic double folds with vec_id tiebreaks,
    so the greedy trajectory is engine-exact."""
    dot = dot_double_sql
    parts = [
        f"""
    {_NORM_CTE},
    q AS (SELECT nv FROM e WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT vec_id, rel, nv FROM (
            SELECT c.vec_id, ROUND({dot("q.nv", "c.nv")}, 6) AS rel, c.nv,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND({dot("q.nv", "c.nv")}, 6) DESC, c.vec_id
                   ) AS rk
            FROM e c, q WHERE c.vec_id <> 0) t
        WHERE rk <= {MMR_C}),
    ps AS MATERIALIZED (
        SELECT a.vec_id AS ca, b.vec_id AS cb,
               ROUND({dot("a.nv", "b.nv")}, 6) AS s
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, rel, 1 AS rank, 0.0 AS redundancy
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    sel1 AS MATERIALIZED (SELECT vec_id, rel, rank, redundancy FROM s1)"""
    ]
    for i in range(2, MMR_K + 1):
        parts.append(
            f""",
    s{i} AS MATERIALIZED (
        SELECT c.vec_id, c.rel, {i} AS rank, r.red AS redundancy
        FROM cand c
        JOIN (SELECT ca, MAX(s) AS red FROM ps
              JOIN sel{i - 1} sl ON ps.cb = sl.vec_id GROUP BY ca) r
          ON r.ca = c.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ORDER BY 0.7 * c.rel - 0.3 * r.red DESC, c.vec_id LIMIT 1),
    sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})"""
        )
    parts.append(
        f"""
    SELECT rank, vec_id, rel AS relevance, redundancy FROM sel{MMR_K}"""
    )
    return "".join(parts)


@corpus_query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: diversity-aware re-ranking of the
    exact top-{MMR_C} cosine shortlist for one query (vec_id 0) — the
    retrieval-serving step that stops near-duplicate results from
    crowding a context window. Greedy loop: each of {MMR_K} rounds picks
    argmax(0.7*relevance - 0.3*max_sim_to_already_selected).

    Scale split, the same shape as every serving query here: the
    DISTRIBUTED part is the shortlist (TakeOrderedAndProject over the
    corpus scan — swap in the IVF/PQ gate for 100 TB) and the {MMR_C}^2
    pair-sim table; the greedy loop then runs {MMR_K} tiny plan-side
    rounds on those bounded frames (localCheckpoint per round cuts the
    exponentially-nesting lineage, as in the PageRank loop — never a
    driver-side collect of vectors)."""
    from ..functions.vectors import dot_prenorm, normalized

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = emb.select(
        "vec_id", "embedding", norm("embedding").alias("nrm")
    ).select("vec_id", normalized("embedding", "nrm").alias("nv"))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("nv").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", F.round(dot_prenorm("qv", "nv"), 6).alias("rel"), "nv"
        )
    )
    cand = (
        scored.orderBy(F.desc("rel"), "vec_id").limit(MMR_C).localCheckpoint(eager=False)
    )
    a, b = cand.alias("a"), cand.alias("b")
    ps = (
        a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ca"),
            F.col("b.vec_id").alias("cb"),
            F.round(
                dot_prenorm(F.col("a.nv"), F.col("b.nv")), 6
            ).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    sel = (
        cand.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "rel",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("redundancy"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, MMR_K + 1):
        red = (
            ps.join(
                sel.select(F.col("vec_id").alias("sv")),
                F.col("cb") == F.col("sv"),
            )
            .groupBy("ca")
            .agg(F.max("s").alias("red"))
        )
        pick = (
            cand.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(red, F.col("vec_id") == F.col("ca"))
            .orderBy(
                (0.7 * F.col("rel") - 0.3 * F.col("red")).desc(), "vec_id"
            )
            .limit(1)
            .select(
                "vec_id",
                "rel",
                F.lit(i).alias("rank"),
                F.col("red").alias("redundancy"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "rank", "vec_id", F.col("rel").alias("relevance"), "redundancy"
    )


@corpus_query(
    "sim_knn_classify",
    oracle=f"""
    WITH knn AS ({{topk}}),
    votes AS (
        SELECT k.vec_a AS qid, lb.label,
               CAST(COUNT(*) AS BIGINT) AS votes
        FROM knn k JOIN embeddings lb ON lb.vec_id = k.vec_b
        GROUP BY 1, 2
    )
    SELECT qid, label AS predicted_label, votes FROM (
        SELECT qid, label, votes,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY votes DESC, label
               ) AS rn
        FROM votes
    ) t WHERE rn = 1
    """.replace("{topk}", _topk_oracle()),
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: each of the {TOPK_QUERIES} query vectors takes
    the majority label of its exact top-{TOPK_K} neighbors (label-asc
    tiebreak) — the standard embedding-space labeler (weak supervision,
    eval probes) expressed as the top-k entry composed with one broadcast
    label join + a vote argmax. Swap the brute-force shortlist for any of
    the ANN rungs at scale; the vote stage is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    knn = sim_topk_neighbors(spark, sf_dir)
    votes = (
        knn.join(
            F.broadcast(emb.withColumnRenamed("vec_id", "vec_b")), "vec_b"
        )
        .groupBy(F.col("vec_a").alias("qid"), "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("votes"), "label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("predicted_label"), "votes")
    )


# ------------------------------------------------ binary (sign-bit) ANN
#
# The 1-bit rung of the quantization ladder made a FIRST-CLASS serving
# shape (sim_ann_lsh_* uses sign bits for bucketing; here the bits ARE
# the representation): each vector compresses to its 64 sign bits and
# similarity is Hamming distance — xor + popcount, the cheapest scan a
# vector index can run (256x smaller than float32 at rest, no
# multiplications at serve time). Recall is repaired the FAISS way with
# an exact re-rank over the Hamming shortlist (sim_binary_refined).
#
# The codes are packed into TWO bigint words of 32 bits each rather than
# one 64-bit word: bit 63 is the sign bit, and 1::BIGINT << 63 is
# implementation-defined-to-hostile territory across engines (DuckDB
# range-checks it) — two half words keep every intermediate positive and
# the packing portable. Hamming = popcount(lo XOR lo') + popcount(hi XOR
# hi'), identical integer in both engines.

BINARY_REFINE_R = 50  # Hamming shortlist size for the exact re-rank


def _binary_codes_sql() -> str:
    def word(off: int) -> str:
        return (
            f"CAST(list_sum(list_transform(range(0, 32), i -> "
            f"CASE WHEN embedding[i + {off + 1}] >= 0 "
            f"THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)"
        )

    return f"""codes AS (
        SELECT vec_id, {word(0)} AS lo, {word(32)} AS hi FROM embeddings
    ),
    qc AS (
        SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM codes
        WHERE vec_id < {TOPK_QUERIES}
    ),
    hscored AS (
        SELECT q.qid, c.vec_id,
               CAST(bit_count(xor(q.qlo, c.lo))
                    + bit_count(xor(q.qhi, c.hi)) AS BIGINT) AS hamming
        FROM qc q, codes c
    )"""


@corpus_query(
    "sim_binary_hamming_topk",
    oracle=f"""
    WITH {_binary_codes_sql()}
    SELECT qid, vec_id, hamming, rank FROM (
        SELECT qid, vec_id, hamming,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY hamming ASC, vec_id ASC
               ) AS rank
        FROM hscored
    ) t WHERE rank <= {TOPK_K}
    """,
)
def sim_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_K} nearest neighbors under SIGN-BIT binary quantization:
    64 dims -> 64 bits (two 32-bit words, see the section comment), scan
    scored by Hamming distance via XOR + popcount — both JVM intrinsics
    inside whole-stage codegen, no Python, no floats, no multiplies.

    Parity is exact-by-construction: bit packing, xor, and popcount are
    integer-deterministic in any engine and any evaluation order.

    Scale: the code table is 16 bytes/vector; the scan is a broadcast of
    the {TOPK_QUERIES}-row query codes against a linear pass, and the
    rank window's ``rank <= k`` filter compiles to WindowGroupLimit —
    each partition forwards only its local top-k per query, so the
    global shuffle carries k x n_partitions rows, not N x n_queries."""
    from pyspark.sql import Window

    codes = _binary_codes_pooled(spark, sf_dir)
    q = codes.select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    ).filter(F.col("qid") < TOPK_QUERIES)
    scored = codes.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
            + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= TOPK_K)
        .select("qid", "vec_id", "hamming", "rank")
    )


# binary code pool: one resident 16-byte-per-vector frame per dataset
_BIN_CODES_MEMO: dict[tuple[str, str], DataFrame] = {}


def _binary_codes_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lo, hi) sign-bit code table, JVM-packed and pooled."""

    def build() -> DataFrame:
        def word(off: int):
            return F.expr(
                f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
                f"(acc, i) -> acc + IF(element_at(embedding, i + {off + 1}) >= 0, "
                f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
            )

        out = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", word(0).alias("lo"), word(32).alias("hi"))
            .cache()
        )
        out.count()
        return out

    return bounded_cached(
        _BIN_CODES_MEMO, (spark.sparkContext.applicationId, sf_dir), build
    )


@corpus_query(
    "sim_binary_refined",
    oracle=f"""
    {_NORM_CTE},
    {_binary_codes_sql()},
    short AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY hamming ASC, vec_id ASC
                   ) AS rk
            FROM hscored
        ) t WHERE rk <= {BINARY_REFINE_R}
    )
    SELECT qid, vec_id, exact_score, rank FROM (
        SELECT s.qid, s.vec_id,
               {roundfx_sql(dot_double_sql("eq.nv", "ec.nv"))} AS exact_score,
               ROW_NUMBER() OVER (
                   PARTITION BY s.qid
                   ORDER BY {roundfx_sql(dot_double_sql("eq.nv", "ec.nv"))} DESC,
                            s.vec_id ASC
               ) AS rank
        FROM short s
        JOIN e eq ON eq.vec_id = s.qid
        JOIN e ec ON ec.vec_id = s.vec_id
    ) t WHERE rank <= {TOPK_K}
    """,
)
def sim_binary_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary shortlist → EXACT re-rank (the sim_pq_refined recipe on the
    1-bit rung): the Hamming scan nominates {BINARY_REFINE_R} candidates
    per query from 16 bytes/vector alone; only those rows fetch the real
    vectors for an exact rounded-cosine top-{TOPK_K}. The standard
    two-stage serving shape for binary indexes (popcount scan is so
    cheap the shortlist can be generous — R={BINARY_REFINE_R} here).

    Scale: stage 1 is the codegen'd xor/popcount scan with its
    WindowGroupLimit-pruned shortlist; stage 2 reads n_queries x
    {BINARY_REFINE_R} vectors via an equi-join on vec_id (semi-join-
    sized probe of the corpus), query vectors broadcast."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_prenorm, normalized

    codes = _binary_codes_pooled(spark, sf_dir)
    q = codes.select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    ).filter(F.col("qid") < TOPK_QUERIES)
    hscored = codes.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
            + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
        ).alias("hamming"),
    )
    wh = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("vec_id"))
    short = (
        hscored.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") <= BINARY_REFINE_R)
        .select("qid", "vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    fetched = (
        short.join(F.broadcast(qv), "qid")
        .join(emb, "vec_id")
        .select(
            "qid",
            "vec_id",
            normalized("qemb", norm("qemb")).alias("qv"),
            normalized("embedding", norm("embedding")).alias("nv"),
        )
    )
    # roundfx, not ROUND: the re-rank KEY must be tie-deterministic
    # across engines (ADVICE r5) — Spark/DuckDB ROUND(double, 6) diverge
    # on exact half-boundary ties, which would both reorder the top-k
    # selection and change the emitted score
    scored = fetched.select(
        "qid",
        "vec_id",
        roundfx(dot_prenorm("qv", "nv")).alias("exact_score"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.desc("exact_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= TOPK_K)
        .select("qid", "vec_id", "exact_score", "rank")
    )


def _binary_recall_oracle() -> str:
    """Both 1-bit variants in one report, the sim_quant_recall
    convention: each constituent oracle reused VERBATIM from its
    registered entry (wrapped to pair-id form, self-hits dropped — the
    binary rankings include the query vector at Hamming 0, so one of
    their {TOPK_K} slots is structurally self), composed with the exact
    baseline and tagged with a variant literal."""
    from .corpus import get_query

    ham = (
        f"SELECT qid AS vec_a, vec_id AS vec_b FROM "
        f"({get_query('sim_binary_hamming_topk').oracle}) tbh "
        f"WHERE qid <> vec_id"
    )
    ref = (
        f"SELECT qid AS vec_a, vec_id AS vec_b FROM "
        f"({get_query('sim_binary_refined').oracle}) tbr "
        f"WHERE qid <> vec_id"
    )
    return f"""
    SELECT 'binary' AS variant, * FROM ({_recall_vs_exact_oracle(ham)}) h
    UNION ALL
    SELECT 'binary_refined' AS variant, *
    FROM ({_recall_vs_exact_oracle(ref)}) r
    """


@corpus_query("sim_binary_recall", oracle=_binary_recall_oracle())
def sim_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK_K} of the sign-bit Hamming scan and of its
    exact-re-rank repair against the brute-force baseline — the 1-bit
    rung's quality report, completing the graded recall coverage of the
    quantization ladder (LSH buckets, IVF pruning, PQ/SQ8 compression,
    and now the binary scan: every serving shape in the repo carries a
    measured recall). The hamming → refined delta isolates what the
    R={BINARY_REFINE_R} exact re-rank buys on 16-byte codes. Self-hits
    are dropped before scoring (the binary rankings include the query at
    Hamming 0), so n_approx < {TOPK_K} shows the structural self-slot —
    the same accounting as sim_quant_recall. Bounded shape: only id
    pairs move, 2·k·n_queries rows per variant."""
    exact = _exact_pairs_local(spark, sf_dir)

    def pairs(df: DataFrame) -> DataFrame:
        return _pairs_local(
            df.filter(F.col("qid") != F.col("vec_id")).select(
                F.col("qid").alias("vec_a"), F.col("vec_id").alias("vec_b")
            )
        )

    rep_h = _recall_report(exact, pairs(sim_binary_hamming_topk(spark, sf_dir)))
    rep_r = _recall_report(exact, pairs(sim_binary_refined(spark, sf_dir)))
    return rep_h.select(F.lit("binary").alias("variant"), "*").unionByName(
        rep_r.select(F.lit("binary_refined").alias("variant"), "*")
    )


# ------------------------------------------- incremental IVF indexing

# pooled BASE inverted file for the incremental path: one per
# (application, dataset, split-threshold)
_IVF_INC_MEMO: dict = {}


@corpus_query("sim_ann_ivf_incremental", oracle=_IVF_ORACLE)
def sim_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving with INCREMENTAL INDEXING — the continuous-ingest
    production shape (the ANN twin of dedup_minhash_incremental): the
    oldest 90% of the corpus is the PERSISTED base inverted file
    (pooled; built once per dataset), each run assigns ONLY the new
    10% batch against the frozen coarse quantizer and serves top-{TOPK_K}
    from base ∪ delta. The oracle is the FULL-recompute IVF ranking
    (_IVF_ORACLE, shared verbatim with sim_ann_ivf_topk/_indexed):
    because a vector's cell assignment depends only on itself and the
    fixed centroids, delta indexing is provably lossless — the driver
    hash-check grades that equivalence, not just the query output.

    Scale shape: per-run cost = batch-sized assignment (row-local,
    centroid matrix in the task closure) + the same broadcast probe-join
    serve as the inline operator; the base corpus is never re-read, let
    alone re-assigned. The split threshold derives from max(vec_id)
    (one bounded 1-row driver scalar, same budget as the centroid
    collect)."""
    from ..operators.similarity import (
        _collect_centroids,
        ivf_assign_frame,
        ivf_topk_distributed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.max("vec_id").alias("m")).collect()[0]["m"] + 1
    thr = (n * 9) // 10
    cent = _collect_centroids(emb, IVF_CELLS)

    def build_base() -> DataFrame:
        out = ivf_assign_frame(
            emb.filter(F.col("vec_id") < thr),
            n_cells=IVF_CELLS,
            centroids=cent,
        ).cache()
        out.count()  # materialize at build; pool hits are action-free
        return out

    base = bounded_cached(
        _IVF_INC_MEMO, (spark.sparkContext.applicationId, sf_dir, thr), build_base
    )
    delta = ivf_assign_frame(
        emb.filter(F.col("vec_id") >= thr), n_cells=IVF_CELLS, centroids=cent
    )
    return ivf_topk_distributed(
        emb,
        k=TOPK_K,
        query_filter=F.col("vec_id") < TOPK_QUERIES,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        index=base.unionByName(delta),
        centroids=cent,
    )


# ---------------------------- embedding distribution drift (data CI, r9)

_DRIFT_SHIFT = 10_000_000  # >> max |floor(v * 1e6)| for unit-scale floats


@corpus_query(
    "dq_embedding_mean_drift",
    oracle=f"""
    WITH n AS (SELECT MAX(vec_id) + 1 AS n_vecs FROM embeddings),
    expl AS (
        SELECT e.vec_id >= n.n_vecs // 2 AS is_new,
               generate_subscripts(e.embedding, 1) - 1 AS dim,
               CAST(FLOOR(CAST(unnest(e.embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) + {_DRIFT_SHIFT} AS v_shift
        FROM embeddings e CROSS JOIN n
    ),
    per AS (
        SELECT dim, is_new, COUNT(*) AS cnt, SUM(v_shift) AS s
        FROM expl GROUP BY 1, 2
    ),
    means AS (
        SELECT dim, is_new,
               CAST(s // cnt AS BIGINT) - {_DRIFT_SHIFT} AS mean_micro
        FROM per
    )
    SELECT CAST(dim AS INT) AS dim,
           MAX(CASE WHEN NOT is_new THEN mean_micro END) AS mean_old_micro,
           MAX(CASE WHEN is_new THEN mean_micro END) AS mean_new_micro,
           MAX(CASE WHEN is_new THEN mean_micro END)
               - MAX(CASE WHEN NOT is_new THEN mean_micro END)
               AS drift_micro
    FROM means GROUP BY 1
    """,
)
def dq_embedding_mean_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DISTRIBUTION DRIFT — data CI for the vector column:
    per-dimension mean of the first half of the corpus (vec_id below
    the midpoint) vs the second, in exact micro units, with the signed
    drift. The check that catches a re-embedding run (new model
    revision, changed normalization) silently shifting the space that
    every ANN index and dedup threshold in the pipeline was tuned on —
    the vector twin of dq_histogram_drift.

    Exactness across engines: float32 -> double widening is exact and
    double*1e6 + FLOOR is identical IEEE in both engines; sums then run
    on SHIFTED non-negative BIGINTs so the single floor-division is a
    true floor in both (Spark `div` and DuckDB `//` truncate toward
    zero, which only agrees with floor for non-negative operands — the
    shift buys engine agreement, then subtracts out exactly).

    Scale design: one posexplode (rows x dim, the honest cost) feeding
    ONE map-combinable (dim, half) aggregate and a dim-sized pivot —
    no window, no collect; 100x vectors = same two-stage plan."""
    from ..operators.rank import _idiv

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg((F.max("vec_id") + 1).alias("n_vecs"))
    expl = emb.crossJoin(F.broadcast(n)).select(
        (
            F.col("vec_id") >= _idiv(F.col("n_vecs"), F.lit(2))
        ).alias("is_new"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    per = expl.groupBy("dim", "is_new").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.floor(F.col("v").cast("double") * 1000000).cast("bigint")
            + F.lit(_DRIFT_SHIFT)
        ).alias("s"),
    )
    means = per.select(
        "dim",
        "is_new",
        (_idiv(F.col("s"), F.col("cnt")) - F.lit(_DRIFT_SHIFT)).alias(
            "mean_micro"
        ),
    )
    return means.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.max(F.when(~F.col("is_new"), F.col("mean_micro"))).alias(
            "mean_old_micro"
        ),
        F.max(F.when(F.col("is_new"), F.col("mean_micro"))).alias(
            "mean_new_micro"
        ),
        (
            F.max(F.when(F.col("is_new"), F.col("mean_micro")))
            - F.max(F.when(~F.col("is_new"), F.col("mean_micro")))
        ).alias("drift_micro"),
    )


# ------------------------------------------------ IVF radius search (r10)

RADIUS_TAU = 0.35  # report every neighbor at least this similar


@corpus_query(
    "sim_radius_search_ivf",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               {normalized_sql("embedding", "nrm")} AS nv
        FROM (SELECT vec_id, embedding,
                     {norm_sql("embedding")} AS nrm
              FROM embeddings) raw
    ),
    q AS (SELECT vec_id AS qid, nv AS qnv FROM e
          WHERE vec_id < {TOPK_QUERIES})
    SELECT q.qid AS vec_a, e.vec_id AS vec_b,
           ROUND({dot_double_sql("q.qnv", "e.nv")}, 6) AS cos_sim
    FROM q JOIN e ON e.vec_id <> q.qid
    WHERE ROUND({dot_double_sql("q.qnv", "e.nv")}, 6) >= {RADIUS_TAU}
    """,
)
def sim_radius_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT radius search — every corpus neighbor with cosine >=
    {RADIUS_TAU} per query — answered through the IVF index with a
    LOSSLESS per-cell angular-radius prune (spherical triangle
    inequality; see operators/similarity.py::ivf_radius_distributed).
    The oracle is the pruning-free brute-force scan: the driver's hash
    check therefore certifies that the prune dropped NO qualifying
    neighbor, which is the entire correctness claim of a bounded-radius
    index probe. The range-query sibling of [sim_ann_ivf_topk] (same
    pooled inverted file, same fold-identical scoring kernel): top-k
    serves retrieval, radius serves dedup-sweep/audit shapes where the
    answer-set size is data-dependent.

    Honesty note on the prune at THIS scale: the testdata embeddings
    are isotropic random vectors, so every cell's angular radius is
    ~pi/2 and the bound can exclude nothing — here the query certifies
    LOSSLESSNESS on the hostile no-structure case (probe-all == brute
    force, bit-for-bit). On clustered real-world embeddings rho_c
    shrinks and the same bound prunes most cells;
    tests/test_radius_search.py builds such geometry and asserts the
    probe set actually contracts while staying exact."""
    from ..operators.similarity import ivf_radius_distributed

    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_pooled(spark, sf_dir)
    return ivf_radius_distributed(
        emb,
        tau=RADIUS_TAU,
        query_filter=F.col("vec_id") < TOPK_QUERIES,
        n_cells=IVF_CELLS,
        index=index,
    )
