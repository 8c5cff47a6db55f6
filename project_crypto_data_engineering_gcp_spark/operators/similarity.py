"""Similarity search over ``array<float>`` embedding columns.

Two families, same bit-exact arithmetic:

DISTRIBUTED (the 100 TB layout — default for the corpus queries):
  * ``cosine_pairs_grid``    — exact all-pairs-above-threshold via the
    block-grid self-join: each vector is replicated (JVM-side) to its
    ``n_blocks`` block-pair tiles and every (bi, bj) tile computes
    independently in ``applyInPandas``. Shuffle volume is N x n_blocks
    raw vectors (NOT N^2 pairs); the unavoidable exact N^2 FLOPs run
    tiled across the cluster. ONE Python stage.
  * ``topk_neighbors_distributed`` — per-query top-k. The bounded query
    set (bounded by contract: a filter like ``vec_id < 20``) is
    collected/broadcast — never the index. With ``bucket_dims`` the
    candidates come from a BROADCAST HASH equi-join on the JVM-computed
    sign-bit LSH bucket, so pairwise compute is pruned IN THE JOIN to
    actual bucket collisions; without, the exact brute force runs as
    partial-top-k-per-partition (each partition emits its local top-k,
    one window re-ranks — the classic distributed top-k shape).
  * ``ivf_topk_distributed`` — IVF ANN: the only driver-side state is
    the (n_cells x dim) centroid matrix (bounded by construction);
    vectors get their nearest-centroid cell row-locally, query probes
    are built driver-side from the bounded query set, and a BROADCAST
    HASH equi-join on the cell id selects candidates — compute scales
    with n_probe / n_cells of the index, pruned before any full dot.

BLOCKWISE CLOSURE (small-index fast path):
  * ``*_blockwise`` — the whole index collected once into the task
    closure, query ids streaming through mapInPandas. Lowest latency
    when the index genuinely fits; guarded by ``MAX_CLOSURE_INDEX_ROWS``
    and raises beyond it — never silently ships an unbounded index.

Bit-parity (both families): numpy work is vectorized ACROSS pairs but
accumulated dimension-by-dimension — ``acc += A[:, i] * B[:, i]`` — which
is per pair exactly the left-fold (multiply, add) sequence of
functions/vectors.py, DuckDB's ``list_sum(list_transform(...))``, and
Spark's ``aggregate`` fold, so every path hashes identically to the SQL
oracles while running ~40x faster than interpreted HOF expression trees.
Normalization is row-local, so fusing it into the compute stage (instead
of a separate normalize pass) changes nothing bit-wise and saves a whole
Python stage per query (~1s of pure stage overhead at 32 partitions).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

PAIRS_SCHEMA = (
    "vec_a bigint, vec_b bigint, label_a int, label_b int, cos_sim double"
)

# Closure-path guard: above this the index no longer belongs in a task
# closure — callers must use the distributed layout instead.
MAX_CLOSURE_INDEX_ROWS = 100_000

# Query-set guard: the per-query driver state (ids + vectors) every
# top-k/radius entry collects is bounded BY CONTRACT (query_filter
# selects a handful of probe rows, never the corpus). Enforced, not
# narrated — same policy as MAX_CLOSURE_INDEX_ROWS (r10 advisory).
MAX_QUERY_SET_ROWS = 10_000


def _fold_kernels():
    """The numpy fold kernels, defined as LOCAL functions so cloudpickle
    ships them BY VALUE inside worker closures — Python workers must not
    need this package importable (driver may run from a foreign cwd; see
    the same pattern in operators/multimodal.py)."""
    import numpy as np  # noqa: F811 — worker-side import

    def normalize_rows(mat):
        # Unit-normalize rows with fold-identical arithmetic: squared
        # norms accumulated dimension-by-dimension, then one divide per
        # element — matches normalized()/normalized_sql bit-for-bit.
        acc = np.zeros(mat.shape[0], dtype=np.float64)
        for i in range(mat.shape[1]):
            acc += mat[:, i] * mat[:, i]
        return mat / np.sqrt(acc)[:, None]

    def block_cos(a, b):
        # (m x d) x (n x d) -> (m x n) cosine block, dimension-sequential
        # so each entry is bit-identical to the scalar left-fold.
        acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for i in range(a.shape[1]):
            acc += a[:, i][:, None] * b[:, i][None, :]
        return acc

    def stack_raw(col):
        # RAW embedding column -> (rows x dim) float64 matrix, via
        # float32 exactly as the parquet stores it (float->double exact).
        return np.stack([np.asarray(v, dtype=np.float32) for v in col]).astype(
            np.float64
        )

    def stack64(col):
        # Already-double column (normalized vectors) -> float64 matrix.
        # Must NOT round-trip through float32 (would truncate).
        return np.stack([np.asarray(v, dtype=np.float64) for v in col])

    return normalize_rows, block_cos, stack_raw, stack64


# by-value kernel instances (qualname is _fold_kernels.<locals>.*, so any
# closure capturing these is serialized self-contained)
_normalize_rows, _block_cos, _stack, _stack64 = _fold_kernels()


def lsh_bucket_col(bucket_dims: tuple[int, ...], embedding: str = "embedding") -> Column:
    """Sign-bit LSH bucket id as a pure JVM Column expression (1-based
    dims) — identical to the oracle's CASE chain, no Python involved."""
    bucket = F.lit(0)
    for i, d in enumerate(bucket_dims):
        bucket = bucket + F.when(
            F.element_at(F.col(embedding), d) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


# --------------------------------------------------------------------------
# distributed layout
# --------------------------------------------------------------------------


def _spread(df: DataFrame, cap: int = 16) -> DataFrame:
    """Spread an under-partitioned scan before a Python compute stage.
    The testdata tables are single parquet files (1 input partition -> the
    whole stage would run on 1 of 32 cores); a real 100 TB scan already
    has thousands of partitions and must NOT be re-shuffled here — so
    repartition only when the input has fewer partitions than the target.
    The cap bounds per-stage Python task overhead (~35 ms/task) where the
    per-task compute is small."""
    sc = df.sparkSession.sparkContext
    target = min(sc.defaultParallelism, cap)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cosine_pairs_grid(
    emb: DataFrame,
    *,
    threshold: float,
    n_blocks: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Exact all (a < b) pairs with cosine >= threshold, block-grid
    layout: vector v (block = vec_id mod n_blocks) is replicated JVM-side
    to the n_blocks tile groups (min(b, x), max(b, x)); each (bi, bj)
    tile normalizes its raw vectors (row-local, fold-identical) and
    computes its |bi| x |bj| block independently. No driver collect, no
    N^2 shuffle — shuffle is N x n_blocks raw vectors; the N^2 FLOPs of
    an EXACT all-pairs run tiled across the cluster in ONE Python
    stage."""
    spark = emb.sparkSession
    partners = spark.range(n_blocks).select(F.col("id").cast("int").alias("partner"))
    rep = (
        emb.select(
            "vec_id",
            "label",
            "embedding",
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("block"),
        )
        .crossJoin(F.broadcast(partners))
        .select(
            F.least("block", "partner").alias("bi"),
            F.greatest("block", "partner").alias("bj"),
            "vec_id",
            "label",
            "embedding",
            "block",
        )
    )
    thr = float(threshold)
    rd = int(round_digits)

    def tile(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        left = pdf[pdf["block"] == bi]
        right = pdf[pdf["block"] == bj] if bj != bi else left
        if not len(left) or not len(right):
            return pd.DataFrame(
                {c.split()[0]: [] for c in PAIRS_SCHEMA.split(", ")}
            ).astype({"cos_sim": "float64"})
        ida = left["vec_id"].to_numpy(dtype=np.int64)
        idb = right["vec_id"].to_numpy(dtype=np.int64)
        la = left["label"].to_numpy(dtype=np.int32)
        lb = right["label"].to_numpy(dtype=np.int32)
        acc = _block_cos(
            _normalize_rows(_stack(left["embedding"])),
            _normalize_rows(_stack(right["embedding"])),
        )
        ai, ci = np.nonzero((acc >= thr) & (ida[:, None] < idb[None, :]))
        out = {
            "vec_a": ida[ai],
            "vec_b": idb[ci],
            "label_a": la[ai],
            "label_b": lb[ci],
            "cos_sim": np.round(acc[ai, ci], rd),
        }
        if bi != bj:
            # pairs oriented right->left (smaller id on the right side)
            aj, cj = np.nonzero((acc >= thr) & (ida[:, None] > idb[None, :]))
            out = {
                "vec_a": np.concatenate([out["vec_a"], idb[cj]]),
                "vec_b": np.concatenate([out["vec_b"], ida[aj]]),
                "label_a": np.concatenate([out["label_a"], lb[cj]]),
                "label_b": np.concatenate([out["label_b"], la[aj]]),
                "cos_sim": np.concatenate(
                    [out["cos_sim"], np.round(acc[aj, cj], rd)]
                ),
            }
        return pd.DataFrame(out)

    return rep.groupBy("bi", "bj").applyInPandas(tile, schema=PAIRS_SCHEMA)


def _rank_topk(
    scored: DataFrame, k: int, *, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic top-k: row_number over (rounded cos desc, vec_b asc)
    per query — identical to the oracle's ROW_NUMBER ranking."""
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    cols = ["vec_a", "vec_b", *extra_cols, "cos_sim", "rk"]
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*cols)
    )


def _collect_queries(emb: DataFrame, query_filter: Column):
    """Collect the QUERY set (bounded by contract — e.g. ``vec_id < 20``;
    never the index) and normalize driver-side with the same fold.
    Raises beyond ``MAX_QUERY_SET_ROWS``: a filter that matches
    corpus-sized row counts is a misuse (the caller wanted the
    corpus-vs-corpus join — dedup_semantic_blocked_capped — not a
    per-query probe set).

    The collect itself is LIMIT-bounded to MAX+1 rows (r11 ADVICE): the
    guard must fire before materializing an unbounded set, not after
    surviving it — a corpus-sized filter now ships at most one extra row
    to the driver before raising."""
    rows = (
        emb.filter(query_filter)
        .select("vec_id", "embedding")
        .limit(MAX_QUERY_SET_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_SET_ROWS:
        raise ValueError(
            "_collect_queries: query_filter matched more than"
            f" MAX_QUERY_SET_ROWS={MAX_QUERY_SET_ROWS} rows; the query set is"
            " bounded driver state by contract — for corpus-sized 'query'"
            " sets use the corpus-vs-corpus join path"
            " (dedup_semantic_blocked_capped) instead"
        )
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    qnv = (
        _normalize_rows(
            np.stack(
                [np.asarray(r["embedding"], dtype=np.float32) for r in rows]
            ).astype(np.float64)
        )
        if rows
        else np.zeros((0, 0))
    )
    return qids, qnv


def topk_neighbors_distributed(
    emb: DataFrame,
    *,
    k: int,
    query_filter: Column,
    bucket_dims: tuple[int, ...] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Per-query top-k neighbors, distributed. The query set is bounded
    by contract (``query_filter``); the INDEX is never collected.

    * ``bucket_dims`` set  -> LSH ANN: the JVM computes each row's
      sign-bit bucket; the (tiny) query frame broadcasts and a BROADCAST
      HASH equi-join on the bucket selects candidates — pruning happens
      in the join, BEFORE any dot product runs, so pairwise compute is
      proportional to actual bucket collisions. One Python stage scores
      the surviving pairs (normalize-and-dot, row-local, fold-exact);
      one window shuffle (scalars only — vectors never shuffle) ranks.

    * ``bucket_dims`` None -> exact brute force: every partition scores
      its rows against the broadcast queries and emits only its LOCAL
      top-k per query (a superset of the global top-k by construction);
      the same window re-ranks. One Python stage, k x partitions rows
      per query shuffled."""
    rd = int(round_digits)
    if bucket_dims is not None:
        bucket = lsh_bucket_col(bucket_dims)
        index = emb.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("cemb"),
            bucket.alias("bucket"),
        )
        queries = (
            emb.filter(query_filter)
            .select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("qemb"),
                bucket.alias("qbucket"),
            )
        )
        cand = index.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_b") != F.col("vec_a")),
        )

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                a = _normalize_rows(_stack(pdf["qemb"]))
                b = _normalize_rows(_stack(pdf["cemb"]))
                acc = np.zeros(len(pdf), dtype=np.float64)
                for i in range(a.shape[1]):  # fold-identical
                    acc += a[:, i] * b[:, i]
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].astype("int64"),
                        "vec_b": pdf["vec_b"].astype("int64"),
                        "bucket": pdf["bucket"].astype("int32"),
                        "cos_sim": np.round(acc, rd),
                    }
                )

        scored = cand.mapInPandas(
            score, schema="vec_a bigint, vec_b bigint, bucket int, cos_sim double"
        )
        return _rank_topk(scored, k, extra_cols=("bucket",))

    # brute force: partial top-k per partition against the broadcast queries
    qids, qnv = _collect_queries(emb, query_filter)
    kk = int(k)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cos_r = np.round(
                _block_cos(qnv, _normalize_rows(_stack(pdf["embedding"]))), rd
            )
            out = {"vec_a": [], "vec_b": [], "cos_sim": []}
            for qi, qid in enumerate(qids):
                cand = np.nonzero(ids != qid)[0]
                order = cand[np.lexsort((ids[cand], -cos_r[qi, cand]))][:kk]
                out["vec_a"].extend([qid] * len(order))
                out["vec_b"].extend(ids[order])
                out["cos_sim"].extend(cos_r[qi, order])
            yield pd.DataFrame(out)

    scored = _spread(emb.select("vec_id", "embedding")).mapInPandas(
        partial, schema="vec_a bigint, vec_b bigint, cos_sim double"
    )
    return _rank_topk(scored, k)


def _collect_centroids(emb: DataFrame, n_cells: int):
    """Driver-side quantizer state: (cent_ids, normalized centroid
    matrix) — O(n_cells x dim), never the index."""
    cent_rows = (
        emb.select("vec_id", "embedding").filter(F.col("vec_id") < n_cells).collect()
    )
    cent_ids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cmat = _normalize_rows(
        np.stack(
            [np.asarray(r["embedding"], dtype=np.float32) for r in cent_rows]
        ).astype(np.float64)
    )
    return cent_ids, cmat


def ivf_assign_frame(
    emb: DataFrame,
    *,
    n_cells: int,
    round_digits: int = 6,
    centroids=None,
) -> DataFrame:
    """The IVF inverted file: (vec_b, cell, cnv) — every vector tagged
    with its nearest centroid's cell, normalized once. This IS the index
    artifact: the persisted serving path writes exactly this frame
    partitioned by cell (operators/ann_index.py), and the inline query
    path may pool it so repeat queries skip re-assignment. Pass
    ``centroids`` (from :func:`_collect_centroids`) to reuse an
    already-collected quantizer."""
    rd = int(round_digits)
    cent_ids, cmat = (
        centroids if centroids is not None else _collect_centroids(emb, n_cells)
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nv = _normalize_rows(_stack(pdf["embedding"]))
            csim_r = np.round(_block_cos(nv, cmat), rd)
            cell = np.empty(len(pdf), dtype=np.int64)
            for r in range(len(pdf)):
                # nearest centroid by (rounded cos desc, centroid id asc)
                cell[r] = cent_ids[np.lexsort((cent_ids, -csim_r[r]))[0]]
            yield pd.DataFrame(
                {
                    "vec_b": pdf["vec_id"].astype("int64"),
                    "cell": cell,
                    "cnv": list(nv),
                }
            )

    return _spread(emb.select("vec_id", "embedding")).mapInPandas(
        assign, schema="vec_b bigint, cell bigint, cnv array<double>"
    )


def ivf_topk_distributed(
    emb: DataFrame,
    *,
    k: int,
    query_filter: Column,
    n_cells: int,
    n_probe: int,
    round_digits: int = 6,
    index: DataFrame | None = None,
    centroids=None,
) -> DataFrame:
    """IVF ANN top-k, cell-partitioned: the coarse quantizer is the first
    ``n_cells`` vectors by vec_id (deterministic, reproducible, and
    SQL-expressible — no k-means iterations). Driver-side state is ONLY
    the (n_cells x dim) centroid matrix and the bounded query set, never
    the index. Index vectors get their nearest cell row-locally
    (centroids in the task closure); query probes (query x n_probe
    nearest cells) are built driver-side; a BROADCAST HASH equi-join on
    the cell id selects candidates — compute scales with
    n_probe / n_cells of the index, pruned in the join before any full
    dot product runs. Vectors never shuffle: the join is broadcast and
    the ranking window moves scalars only. Pass ``centroids`` (from
    :func:`_collect_centroids`) to reuse an already-collected quantizer
    — callers that assigned a delta batch themselves would otherwise pay
    a second identical driver collect."""
    rd = int(round_digits)
    spark = emb.sparkSession
    cent_ids, cmat = (
        centroids if centroids is not None else _collect_centroids(emb, n_cells)
    )  # one driver job, shared by the probe builder below and (when
    # index is None) the assignment pass

    if index is None:
        index = ivf_assign_frame(
            emb, n_cells=n_cells, round_digits=rd, centroids=(cent_ids, cmat)
        )

    # probes driver-side from the bounded query set: (vec_a, pcell, qnv)
    qids, qnv = _collect_queries(emb, query_filter)
    probe_rows = []
    if len(qids):
        qsim_r = np.round(_block_cos(qnv, cmat), rd)
        for qi, qid in enumerate(qids):
            order = cent_ids[np.lexsort((cent_ids, -qsim_r[qi]))][:n_probe]
            for c in order:
                probe_rows.append((int(qid), int(c), qnv[qi].tolist()))
    probes = spark.createDataFrame(
        probe_rows, schema="vec_a bigint, pcell bigint, qnv array<double>"
    )

    cand = index.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell")) & (F.col("vec_b") != F.col("vec_a")),
    )

    def dot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a = _stack64(pdf["qnv"])
            b = _stack64(pdf["cnv"])
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(a.shape[1]):  # fold-identical
                acc += a[:, i] * b[:, i]
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].astype("int64"),
                    "vec_b": pdf["vec_b"].astype("int64"),
                    "cos_sim": np.round(acc, rd),
                }
            )

    scored = cand.mapInPandas(dot, schema="vec_a bigint, vec_b bigint, cos_sim double")
    return _rank_topk(scored, k)


def radius_probe_rows(
    qids, qnv, cent_ids, cmat, rho: dict, *, tau: float, prune_slack: float
) -> list[tuple[int, int, list]]:
    """The lossless probe set for :func:`ivf_radius_distributed`: every
    (query, cell) pair the spherical-triangle bound cannot rule out —
    theta(q, v_c) <= arccos(tau) + rho_c + slack. Driver-side over the
    bounded (queries x n_cells) grid. Factored out so tests can assert
    the prune genuinely FIRES on clustered geometry (on isotropic random
    vectors rho_c ~ pi/2 and nothing can be pruned — see the corpus
    query docstring for the honesty note)."""
    import math

    theta_tau = math.acos(max(-1.0, min(1.0, float(tau))))
    probe_rows: list[tuple[int, int, list]] = []
    if len(qids):
        qsim = _block_cos(qnv, cmat)
        for qi, qid in enumerate(qids):
            for ci, cid in enumerate(cent_ids):
                cell_r = rho.get(int(cid))
                if cell_r is None:  # cell has no members
                    continue
                theta_qv = math.acos(max(-1.0, min(1.0, qsim[qi, ci])))
                if theta_qv <= theta_tau + cell_r + prune_slack:
                    probe_rows.append((int(qid), int(cid), qnv[qi].tolist()))
    return probe_rows


def ivf_radius_distributed(
    emb: DataFrame,
    *,
    tau: float,
    query_filter: Column,
    n_cells: int,
    round_digits: int = 6,
    index: DataFrame | None = None,
    centroids=None,
    prune_slack: float = 1e-4,
) -> DataFrame:
    """EXACT radius search (all neighbors with cosine >= ``tau``) with
    LOSSLESS IVF pruning — the range-query sibling of
    :func:`ivf_topk_distributed` (Faiss calls this shape
    ``range_search``): top-k answers "the k closest", radius answers
    "everything this similar", the primitive behind semantic-dedup
    sweeps and dedup-radius audits where k is unknowable a priori.

    Losslessness comes from the spherical triangle inequality: for a
    query q, a member x of cell c with centroid v satisfies
    theta(q, x) >= theta(q, v) - theta(v, x), so a cell can contain a
    qualifying neighbor only if theta(q, v) <= arccos(tau) + rho_c,
    where rho_c = max over ASSIGNED members of theta(v, x) — computed
    from the actual inverted file, so the bound holds regardless of how
    assignment broke ties. Cells failing the bound are provably empty
    of answers and are never probed; ``prune_slack`` (radians) absorbs
    float noise on the SAFE side (it only ever ADDS probe cells), so
    the result set equals the brute-force scan bit-for-bit — which is
    exactly what the corpus oracle checks.

    ROUNDING-AWARE bound (r10 advisor finding): the emitted filter is
    ``round(cos_sim, round_digits) >= tau``, which admits pairs whose
    TRUE cosine sits in [tau - 0.5*10^-rd, tau). The prune therefore
    runs against the effective threshold tau_eff = tau - 0.5*10^-rd
    (minus a float-headroom epsilon), not tau itself — without this,
    the extra angular reach those pairs need (~0.5*10^-rd /
    sqrt(1 - tau^2)) silently exceeds a fixed 1e-4 slack once tau is
    within ~1e-5 of 1, breaking the bit-for-bit claim exactly where
    near-duplicate sweeps operate. With it, losslessness holds for any
    (tau, round_digits) with tau_eff > -1.

    Plan shape: the per-cell radius is one JVM-side aggregate over the
    index frame (expression dot against the broadcast n_cells-row
    centroid frame), collected as n_cells scalars (same bounded driver
    budget as the centroid matrix). Probes are a broadcast equi-join on
    the cell id; scoring reuses the fold-identical Arrow kernel. At
    100 TB the index never shuffles and per-query compute scales with
    the SELECTIVITY of tau (the cells within the bound), not N."""
    import math

    from ..functions.vectors import dot as col_dot

    rd = int(round_digits)
    spark = emb.sparkSession
    cent_ids, cmat = (
        centroids if centroids is not None else _collect_centroids(emb, n_cells)
    )
    if index is None:
        index = ivf_assign_frame(
            emb, n_cells=n_cells, round_digits=rd, centroids=(cent_ids, cmat)
        )

    # per-cell angular radius rho_c from the ACTUAL membership
    cent_frame = spark.createDataFrame(
        [(int(cid), cmat[i].tolist()) for i, cid in enumerate(cent_ids)],
        schema="cell bigint, cv array<double>",
    )
    rho_rows = (
        index.join(F.broadcast(cent_frame), "cell")
        .groupBy("cell")
        .agg(F.min(col_dot("cnv", "cv")).alias("min_cos"))
        .collect()
    )
    rho = {
        r["cell"]: math.acos(max(-1.0, min(1.0, r["min_cos"])))
        for r in rho_rows
    }

    # probes: every (query, cell) pair the bound cannot rule out —
    # against the ROUNDING-EFFECTIVE threshold (see docstring): pairs
    # with true cosine in [tau - 0.5*10^-rd, tau) round up into the
    # result set, so the prune must keep their cells reachable; 1e-12
    # is float headroom on the subtraction itself
    tau_eff = float(tau) - 0.5 * 10.0 ** (-rd) - 1e-12
    qids, qnv = _collect_queries(emb, query_filter)
    probe_rows = radius_probe_rows(
        qids, qnv, cent_ids, cmat, rho, tau=tau_eff, prune_slack=prune_slack
    )
    probes = spark.createDataFrame(
        probe_rows, schema="vec_a bigint, pcell bigint, qnv array<double>"
    )

    cand = index.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell")) & (F.col("vec_b") != F.col("vec_a")),
    )

    def dot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a = _stack64(pdf["qnv"])
            b = _stack64(pdf["cnv"])
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(a.shape[1]):  # fold-identical
                acc += a[:, i] * b[:, i]
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].astype("int64"),
                    "vec_b": pdf["vec_b"].astype("int64"),
                    "cos_sim": np.round(acc, rd),
                }
            )

    scored = cand.mapInPandas(dot, schema="vec_a bigint, vec_b bigint, cos_sim double")
    return scored.filter(F.col("cos_sim") >= float(tau))


# --------------------------------------------------------------------------
# blockwise closure fast path (small index only)
# --------------------------------------------------------------------------


def _collect_index(emb: DataFrame, cols: list[str]):
    rows = emb.select(*cols).collect()
    if len(rows) > MAX_CLOSURE_INDEX_ROWS:
        raise ValueError(
            f"index has {len(rows)} rows > MAX_CLOSURE_INDEX_ROWS="
            f"{MAX_CLOSURE_INDEX_ROWS}; use the distributed layout "
            "(cosine_pairs_grid / topk_neighbors_distributed / "
            "ivf_topk_distributed) instead of the closure fast path"
        )
    return rows


def cosine_pairs_blockwise(
    emb: DataFrame,
    *,
    threshold: float,
    round_digits: int = 6,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — closure fast path:
    the (bounded, guarded) index ships to every task; query ids stream
    through mapInPandas computing (batch x index) blocks."""
    index_rows = _collect_index(emb, ["vec_id", "label", "embedding"])
    ids = np.array([r["vec_id"] for r in index_rows], dtype=np.int64)
    labels = np.array([r["label"] for r in index_rows], dtype=np.int32)
    nv = _normalize_rows(
        np.array(
            [np.asarray(r["embedding"], dtype=np.float32) for r in index_rows]
        ).astype(np.float64)
    )
    pos = {int(v): i for i, v in enumerate(ids)}

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = [pos[int(v)] for v in pdf["vec_id"]]
            acc = _block_cos(nv[rows], nv)
            ai, bi = np.nonzero(
                (acc >= threshold) & (ids[rows][:, None] < ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": ids[rows][ai],
                    "vec_b": ids[bi],
                    "label_a": labels[rows][ai],
                    "label_b": labels[bi],
                    "cos_sim": np.round(acc[ai, bi], round_digits),
                }
            )

    return _spread(emb.select("vec_id")).mapInPandas(op, schema=PAIRS_SCHEMA)

