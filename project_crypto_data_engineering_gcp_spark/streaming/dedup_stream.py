"""Streaming incremental near-dedup over a growing document corpus.

Composes the batch incremental-LSH design (plans/queries_dedup.py::
dedup_minhash_incremental) with Structured Streaming: each micro-batch
of newly-arrived documents is near-deduplicated against EVERYTHING that
arrived before it, then folded into the persisted state. State on disk
(all parquet, append-only):

  <state_dir>/bands  — (doc_id, band_id, band_key): the LSH index,
                       BANDS fixed-width rows per document ever seen
  <state_dir>/docs   — (doc_id, text): the doc store, read back ONLY
                       for candidate verification (semi-join pruned)
  <state_dir>/pairs  — (doc_a, doc_b, jaccard): the emitted duplicate
                       pairs, appended per batch

Per-batch cost: batch shingling + (batch bands x index bands) equi-join
+ exact-jaccard verification on candidate docs only. The accumulated
corpus is touched through the fixed-width band index and the candidate
-pruned doc-store read — never re-shingled wholesale. Pairs are emitted
exactly when their LATER member arrives, so the union of all batches'
pairs equals the full-corpus LSH answer (pinned by
tests/test_streaming.py equivalence against the batch oracle).

Failure semantics: the stream checkpoint makes source progress
exactly-once, and the state writes are IDEMPOTENT under epoch replay:
each foreachBatch epoch writes its pairs/bands/docs into an
``epoch=<id>`` subdirectory with OVERWRITE mode, so a crashed-and-
retried epoch replaces its own partial output instead of appending a
duplicate copy (duplicated doc rows would otherwise inflate shingle
counts in _verify_pairs and corrupt jaccard for later batches). The
computation per epoch is deterministic, so replay converges to the
same bytes. A transactional table format would give the same
guarantee without the directory convention. Readers see the
state as ordinary partitioned parquet (the ``epoch`` partition column
is dropped on read). Direct (non-stream) callers write the same layout
under synthetic negative epochs, so one state_dir never mixes flat and
partitioned files (which would break partition discovery on read).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import shingles_of_tokens, tokens
from ..plans.queries_dedup import (
    MINHASH_JACCARD_THRESHOLD,
    MINHASH_SHINGLE_K,
    _bands_of,
    _sigs_of,
)


def _shingles(docs: DataFrame) -> DataFrame:
    # shingles_of_tokens takes a column NAME (it builds a SQL lambda),
    # so split first into a named array column. The trailing distinct
    # makes the (doc_id, tok) frame a SET even when the same doc_id
    # arrives more than once (at-least-once re-delivery within a batch,
    # or a doc re-sent across batches into the same verify): without
    # it, duplicated rows double every shingle, the bag-join intersect
    # count i inflates multiplicatively past n_a + n_b, and the jaccard
    # denominator (n_a + n_b - i) reaches ZERO — an ANSI runtime error,
    # found by tools/corpus_fuzz.py --dups (r9). For unique doc_ids the
    # shingle array is already distinct per row, so this is a no-op on
    # values.
    return (
        docs.select("doc_id", tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                shingles_of_tokens("__toks", MINHASH_SHINGLE_K)
            ).alias("tok"),
        )
        .distinct()
    )


def _verify_pairs(cand: DataFrame, toks: DataFrame) -> DataFrame:
    """Exact jaccard over candidate pairs given a (doc_id, tok) frame
    covering every candidate doc."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= MINHASH_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def dedup_batch_against_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int | None = None,
) -> int:
    """One incremental step: emit duplicate pairs touching this batch,
    then fold the batch into the persisted state. Returns pairs emitted.
    Callable directly (batch pipelines) or from foreachBatch.

    With ``epoch_id`` set (the foreachBatch path), every state write
    goes to an ``epoch=<id>`` subdirectory in OVERWRITE mode — replaying
    a crashed epoch replaces its own partial output, making the fold
    idempotent. Direct batch callers (``epoch_id=None``) get the SAME
    layout under synthetic NEGATIVE epochs (-1, -2, ... derived from the
    bands listing, no clock): one uniform partitioned directory tree,
    because mixing flat root files with epoch= subdirectories would make
    every subsequent read of the root fail partition discovery
    ('Conflicting directory structures'). Stream epochs (>= 0) and
    direct calls (< 0) can therefore share a state_dir safely.

    DIRECT-CALLER CONTRACT (local FS, single writer): the synthetic
    negative-epoch allocation lists ``state_dir`` via ``os.listdir`` /
    ``os.path.exists``, so it only sees a LOCAL filesystem, and two
    concurrent direct callers would race to the same negative epoch and
    overwrite each other's state. The foreachBatch path has neither
    limitation (epochs come from the streaming engine); production
    deployments should use it — or a transactional table format (see
    the module header) — and reserve direct calls for single-process batch
    backfills on local state."""
    import re

    bands_path = os.path.join(state_dir, "bands")
    docs_path = os.path.join(state_dir, "docs")
    pairs_path = os.path.join(state_dir, "pairs")

    eff_epoch = epoch_id
    if eff_epoch is None:
        neg = [
            int(m.group(1))
            for d in (
                os.listdir(bands_path) if os.path.exists(bands_path) else ()
            )
            if (m := re.match(r"epoch=(-\d+)$", d))
        ]
        eff_epoch = (min(neg) - 1) if neg else -1

    def write_state(df: DataFrame, path: str) -> None:
        # coalesce(1): the frames are batch-sized and an append per batch
        # would otherwise shed shuffle-partition-many tiny files, inflating
        # every later index read's listing (a real cluster would target
        # file-size-based coalesce / run sources.maintenance compaction)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, f"epoch={eff_epoch}")
        )

    batch = batch.select("doc_id", "text").cache()
    toks_b = _shingles(batch).cache()
    bands_b = _bands_of(_sigs_of(toks_b)).cache()
    bands_b.count()

    has_index = os.path.exists(bands_path)
    na, nb = bands_b.alias("na"), bands_b.alias("nb")
    within = na.join(
        nb,
        (F.col("na.band_id") == F.col("nb.band_id"))
        & (F.col("na.band_key") == F.col("nb.band_key"))
        & (F.col("na.doc_id") < F.col("nb.doc_id")),
    ).select(
        F.col("na.doc_id").alias("doc_a"), F.col("nb.doc_id").alias("doc_b")
    )
    if has_index:
        index_bands = spark.read.parquet(bands_path).select(
            "doc_id", "band_id", "band_key"
        )
        n, o = bands_b.alias("n"), index_bands.alias("o")
        cross = n.join(
            o,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        ).select(
            F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_b"),
        )
        # doc_a < doc_b also drops SELF-matches, which only arise when a
        # replayed epoch's own bands are already in the index — the
        # idempotency path, not normal flow
        cross = cross.filter(F.col("doc_a") < F.col("doc_b"))
        cand = cross.unionByName(within).distinct().cache()
    else:
        cand = within.distinct().cache()
    cand.count()

    # verification shingles: batch docs from the in-memory frame, old
    # candidate docs re-shingled from the doc store (semi-join pruned —
    # reads only candidate rows' text)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toks_v = toks_b.join(ids, "doc_id", "left_semi")
    if has_index:
        # anti-join vs the batch ids: under epoch replay the doc store may
        # already hold this batch's docs; shingling them AGAIN on top of
        # toks_b would inflate intersection counts and corrupt jaccard
        batch_ids = batch.select("doc_id")
        old_docs = (
            spark.read.parquet(docs_path)
            .select("doc_id", "text")
            .join(ids, "doc_id", "left_semi")
            .join(batch_ids, "doc_id", "left_anti")
        )
        toks_v = toks_v.unionByName(_shingles(old_docs))

    pairs = _verify_pairs(cand, toks_v)
    n_pairs = pairs.count()
    if n_pairs:
        write_state(pairs, pairs_path)

    # fold the batch into state AFTER emission: next batches see it
    write_state(bands_b, bands_path)
    write_state(batch, docs_path)
    for frame in (cand, bands_b, toks_b, batch):
        frame.unpersist()
    return n_pairs


def stream_incremental_dedup(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    *,
    max_files_per_trigger: int | None = 1,
) -> int:
    """Drain a parquet landing dir of (doc_id, text) files with
    AvailableNow, incrementally deduplicating each micro-batch against
    all prior arrivals. Returns total pairs emitted."""
    reader = spark.readStream.schema("doc_id long, text string")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(landing_dir)

    progress = {"pairs": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        progress["pairs"] += dedup_batch_against_state(
            spark, batch_df, state_dir, epoch_id=epoch_id
        )

    q = (
        docs.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", os.path.join(state_dir, "_checkpoints")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return progress["pairs"]
