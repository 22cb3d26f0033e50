"""Streaming semantic dedup ingest — the SemDeDup incremental flow
(operators/similarity.py, Abbas et al. 2023, arXiv:2303.09540) on
Structured Streaming ``foreachBatch``, the embedding-semantic sibling of
the near-dup LSH ingest (streaming/neardup.py).

Per micro-batch: (1) in-batch SemDeDup at the index's FROZEN coarse
quantizer (``semantic_dedup_survivors(cents=...)`` — keep-the-outlier
inside each cell, the paper's rule); (2) the kept rows probe the
persisted IVF members for semantic duplicates of the already-curated
corpus (``semantic_dedup_incremental``: broadcast cell assignment +
one cell equi-join — O(batch × cell size), the corpus is never
re-assigned); (3) novel rows append to the survivors table and their
(cell, vid, v, nrm) member rows grow the index, both keyed by
``_batch_id`` via dynamic partition overwrite. The FIRST batch trains
the quantizer (deterministic: bounded md5-ordered sample + quantized
Lloyd) and becomes the corpus. Replays recompute against the exact
pre-batch state (own-batch exclusion from the members, the
streaming/neardup.py discipline) and rewrite their partitions
byte-identically; the shared guards (streaming/ingestbase.py)
fingerprint the knobs and refuse fresh-checkpoint batch-id collisions.

Scale: state lives in storage, not the state store. Per batch the work
is one broadcast assignment + one cell-keyed join + the in-batch pair
expansion (n²/cells, chunked BLAS kernel) — write the members bucketed
on ``cell`` for an exchange-free corpus side at rest. The quantizer is
frozen after the build batch, so cells drift as topics shift: every
batch's ``operators.pq.occupancy_drift`` verdict against the build
batch's cell histogram lands in ``<index_dir>/drift_parts``.

Layout: ``<index_dir>/centroids`` (once), ``<index_dir>/members``
∂ _batch_id, ``<survivors_dir>`` ∂ _batch_id (original batch columns),
``<index_dir>/occupancy.json`` (the build-time cell histogram),
``<index_dir>/drift_parts`` ∂ _batch_id (one drift verdict per batch),
``<index_dir>_knobs.json`` (fingerprint + committed head).
"""

from __future__ import annotations

import math
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import similarity as sim


def make_semantic_dedup_ingest(
    index_dir: str,
    survivors_dir: str,
    *,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    threshold: float = 0.4,
    n_cells: int | None = None,
    train_iters: int = 4,
    round_decimals: int | None = 6,
    compact_every: int | None = 64,
    retrain_threshold: float = 0.25,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body: ``fn(batch_df, batch_id)``.

    ``threshold`` is the SemDeDup cosine: pairs at or above it are
    semantic duplicates (in-batch the member closer to its centroid
    loses; against the corpus the batch row loses — the corpus is
    already curated). The first batch's quantizer becomes the index's
    permanent cell structure, so point the stream at a representative
    slice first. Empty batches are no-ops. Every ``compact_every``
    batches the committed members/survivors partitions fold into the
    base partition by row-preserving concatenation
    (``sinks.compact.compact_rows_parts``) — bounding the per-batch
    partition listing on a long-lived stream; None disables.
    """
    root = index_dir.rstrip("/")
    members_dir = os.path.join(root, "members")
    centroids_dir = os.path.join(root, "centroids")
    occupancy_path = os.path.join(root, "occupancy.json")
    drift_dir = os.path.join(root, "drift_parts")
    knobs_path = root + "_knobs.json"
    knobs = {
        "format": "semdedup-knobs/v1",
        "vec_id": vec_id,
        "embedding": embedding,
        "threshold": threshold,
        "n_cells": n_cells,
        "train_iters": train_iters,
        "round_decimals": round_decimals,
        "retrain_threshold": retrain_threshold,
    }
    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.artifacts import read_json_artifact
        from .ingestbase import (
            batch_fingerprint,
            check_knobs,
            check_sequence,
            fingerprint_is_empty,
            record_head,
        )

        spark = batch_df.sparkSession
        check_knobs(
            knobs_path,
            "semdedup-knobs/v1",
            knobs,
            mismatch_hint=(
                "cell assignments and survivor decisions from different "
                "(threshold, quantizer, rounding) configurations are not "
                "comparable; rebuild the index or restore the original "
                "configuration"
            ),
        )
        fp = batch_fingerprint(batch_df, vec_id)
        check_sequence(knobs_path, "semdedup-knobs/v1", batch_id, fp)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # batches < batch_id are committed (foreachBatch serializes
            # epochs) — never this batch's own partition, so the
            # own-batch replay exclusion below is unaffected. Drift parts
            # under mergeSchema: pre-`batch`-column parts fold as NULLs
            from ..sinks.compact import compact_rows_parts

            compact_rows_parts(spark, members_dir, batch_id)
            compact_rows_parts(spark, survivors_dir, batch_id)
            compact_rows_parts(spark, drift_dir, batch_id, merge_schema=True)
        if fingerprint_is_empty(fp):
            record_head(knobs_path, "semdedup-knobs/v1", batch_id, fp)
            return
        building = not os.path.isdir(centroids_dir)
        # set when the build batch REPLAYS across the crash window between
        # its members write and its occupancy write: the baseline is then
        # re-derived from the full batch in hand, exactly as the uncrashed
        # build would have stored it (VERDICT r10 #6 — drift verdicts are
        # replay-identical across that window; the survivor-derived
        # backfill proxy is no longer involved in the crash case)
        seed_baseline = False
        if not building and not os.path.exists(occupancy_path):
            # discriminate on committed index CONTENT, not on "any batch
            # ever committed" — an empty batch before the build batch
            # records a head without creating anything, and would
            # otherwise misroute a genuine build-batch crash here
            member_parts = (
                {
                    d
                    for d in os.listdir(members_dir)
                    if d.startswith("_batch_id=")
                }
                if os.path.isdir(members_dir)
                else set()
            )
            if not member_parts:
                # centroids landed but no member rows exist: a crash
                # inside the build batch (the centroids write precedes the
                # occupancy write) — the replay re-derives everything
                # deterministically, so treat it as still building
                building = True
            elif member_parts == {f"_batch_id={int(batch_id)}"}:
                # the ONLY committed members carry THIS batch's id: the
                # original attempt crashed after its members write but
                # before the occupancy write, the epoch never committed,
                # and Spark is replaying the build batch — with its FULL
                # content in hand (check_sequence above already verified
                # the id+fingerprint against the recorded head, so a
                # fresh-checkpoint id collision cannot reach this branch).
                # The orphaned member rows are excluded by the own-batch
                # filter below and rewritten byte-identically.
                seed_baseline = True
            else:
                # an index with real content from OTHER batches but no
                # baseline: the pre-drift-monitor layout. Bootstrapping
                # from an arbitrary batch would bias every later verdict;
                # the members ARE available to backfill from (a survivor
                # proxy — honest for the legacy case, where the original
                # build batch's pre-dedup rows are simply gone)
                raise ValueError(
                    f"semantic ingest: {occupancy_path} is missing on an "
                    "already-built index — run "
                    "streaming.semdedup.backfill_occupancy(spark, "
                    "index_dir) once (stream stopped) to derive the "
                    "baseline from the full current members, then restart"
                )
        if building:
            # ---- build batch: train the quantizer, become the corpus ---
            cells = n_cells or max(
                8, math.ceil(math.sqrt(batch_df.select(vec_id).count()))
            )
            cents = sim.train_centroids(
                batch_df,
                cells,
                vec_id=vec_id,
                embedding=embedding,
                iters=train_iters,
                round_decimals=round_decimals,
            )
            cents.write.mode("overwrite").parquet(centroids_dir)
        # declared engine-owned schemas on the per-batch reads (the
        # ingestbase.read_engine_parts rationale: inference lists +
        # footer-reads on EVERY micro-batch for layouts this module wrote)
        from .ingestbase import read_engine_parts

        cents = read_engine_parts(
            spark, centroids_dir, sim.TRAINED_CENTROIDS_SCHEMA
        )
        # ---- in-batch SemDeDup at the frozen quantizer ------------------
        kept_ids = sim.semantic_dedup_survivors(
            batch_df,
            threshold=threshold,
            vec_id=vec_id,
            embedding=embedding,
            round_decimals=round_decimals,
            cents=cents,
        ).select(vec_id)
        kept = batch_df.join(kept_ids, vec_id, "left_semi")
        # ---- against the persisted corpus (own batch excluded: a replay
        # recomputes against the exact pre-batch state, else every row
        # would self-match and the batch's partitions would empty out) ----
        novel = kept
        if os.path.isdir(members_dir):
            from pyspark.sql.types import (
                ArrayType,
                DoubleType,
                IntegerType,
                LongType,
                StructField,
                StructType,
            )

            members_schema = StructType(
                [
                    StructField("cell", LongType()),
                    # the id type follows the source — from the live batch
                    StructField("vid", batch_df.schema[vec_id].dataType),
                    StructField("v", ArrayType(DoubleType())),
                    StructField("nrm", DoubleType()),
                    StructField("_batch_id", IntegerType()),
                ]
            )
            members = read_engine_parts(
                spark, members_dir, members_schema
            ).where(F.col("_batch_id") != F.lit(int(batch_id)))
            pairs = sim.semantic_dedup_incremental(
                kept,
                cents,
                members.drop("_batch_id"),
                threshold=threshold,
                vec_id=vec_id,
                embedding=embedding,
                round_decimals=round_decimals,
            )
            losers = pairs.select(F.col("batch_id").alias(vec_id)).distinct()
            novel = kept.join(losers, vec_id, "left_anti")
        # ---- idempotent batch-keyed writes (per-WRITE dynamic overwrite:
        # scoped to each write, never mutates the session conf) -----------
        from ..functions.artifacts import atomic_write_json
        from ..operators.pq import cell_occupancy_profile, occupancy_drift
        from .ingestbase import write_drift_part

        baseline = None
        if not building and not seed_baseline:
            # read BEFORE any write: a malformed layout fails the batch
            # before it publishes, not after
            baseline = read_json_artifact(occupancy_path, "ann-occupancy/v1")[
                "profile"
            ]
        # drift measures the FULL batch's cell assignment, not the novel
        # subset: dense cells kill proportionally more batch rows (a close
        # twin is likelier to exist there), so a novel-only histogram
        # systematically shifts toward sparse cells as the corpus matures
        # and would trip the monitor on a perfectly stationary stream —
        # the baseline is the full build batch for the same reason.
        # r14: the profile is ONE aggregation job over (batch_df, cents)
        # with no dependency on the two writes below — run it beside them
        # (§2.6) and join before the drift verdict that consumes the
        # profile. A profile failure now surfaces after the two writes
        # instead of before them; that partial-publish state is the same
        # crash window the batch's replay already rewrites byte-identically
        # (the seed_baseline path pins the build case).
        from ..functions.conf import run_together

        novel = novel.persist()

        def profile():
            return cell_occupancy_profile(
                sim.ivf_members(
                    batch_df,
                    cents,
                    vec_id=vec_id,
                    embedding=embedding,
                    round_decimals=round_decimals,
                )
            )

        def publish():
            # the two writes stay SEQUENTIAL relative to each other: both
            # materialize the persisted `novel` chain, and running them
            # concurrently would compute it twice before the cache
            # settles — only the profile job (independent input) overlaps
            (
                novel.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(survivors_dir)
            )
            (
                sim.ivf_members(
                    novel,
                    cents,
                    vec_id=vec_id,
                    embedding=embedding,
                    round_decimals=round_decimals,
                )
                .withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(members_dir)
            )

        try:
            batch_profile, _ = run_together(spark, [profile, publish])
            if building or seed_baseline:
                # seed_baseline is the build batch REPLAYING across its
                # own crash window: batch_profile is the same full-batch
                # histogram the uncrashed build stored, so this write is
                # byte-identical to the one the crash interrupted
                atomic_write_json(
                    occupancy_path,
                    {"format": "ann-occupancy/v1", "profile": batch_profile},
                )
                write_drift_part(
                    spark, drift_dir, batch_id, 0.0, False, retrain_threshold
                )
            else:
                verdict = occupancy_drift(
                    baseline,
                    batch_profile,
                    retrain_threshold=retrain_threshold,
                )
                write_drift_part(
                    spark,
                    drift_dir,
                    batch_id,
                    verdict["tv_distance"],
                    verdict["retrain"],
                    retrain_threshold,
                )
            record_head(knobs_path, "semdedup-knobs/v1", batch_id, fp)
        finally:
            novel.unpersist()

    return ingest


def backfill_occupancy(spark, index_dir: str) -> None:
    """One-time upgrade path for a LEGACY semantic index without a
    baseline (the pre-drift-monitor layout): derive it from the FULL
    current members (the corpus cell distribution — the most meaningful
    yardstick available post-hoc) and seed the drift series. Shared
    body: :func:`~.ingestbase.backfill_occupancy_baseline`. Run while
    the stream is STOPPED.

    NOT the crash path (since r11, VERDICT r10 #6): a crash between the
    build batch's members write and its occupancy write is healed by
    the batch's own REPLAY — the ingest detects that the only committed
    members carry the replaying batch's id and re-derives the baseline
    from the full batch in hand, byte-identical to what the uncrashed
    build would have stored (test:
    tests/test_streaming_semdedup.py::test_build_crash_replay_seeds_identical_baseline).
    This backfill's survivor-derived profile is therefore only ever
    used for the legacy case, where the original build batch's
    pre-dedup rows are genuinely gone; the drift rule's RELATIVE
    threshold absorbs the survivor-vs-full shift there. No pipeline calls
    it: it is the remedy the ingest's missing-baseline error names."""
    from .ingestbase import backfill_occupancy_baseline

    backfill_occupancy_baseline(spark, index_dir, "semdedup-knobs/v1")


def read_semantic_survivors(spark, survivors_dir: str) -> DataFrame:
    """The accumulated semantically-deduped corpus (bookkeeping dropped) —
    the reader through which the ingest's output is checked."""
    return spark.read.parquet(survivors_dir).drop("_batch_id")
