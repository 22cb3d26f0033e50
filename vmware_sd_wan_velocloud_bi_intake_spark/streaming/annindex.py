"""Streaming embedding ingest maintaining an IVF-PQ ANN index — the
``ivf_pq_append`` batch discipline (operators/pq.py) lifted onto
Structured Streaming ``foreachBatch``, mirroring streaming/neardup.py.

A training-data pipeline's embeddings arrive continuously; rebuilding the
ANN index per batch is O(corpus) work for O(batch) new vectors. Here the
FIRST batch trains the quantizers and builds the index (coarse centroids
+ PQ codebooks + the encoded members of that batch); every later batch
encodes at the FROZEN quantizers (``ivf_pq_append``: O(batch × n_cells)
assignment + O(batch) encode — the corpus is never touched) and appends
its members as a ``_batch_id``-keyed partition via dynamic partition
overwrite, so a foreachBatch REPLAY rewrites its own partition
byte-identically (the encode is deterministic at frozen quantizers — the
append-equals-rebuild property tests/test_pq.py pins). The shared
ingest guards (streaming/ingestbase.py) fingerprint the quantizer shape
and column names and refuse fresh-checkpoint batch-id collisions, same
as the near-dup ingest.

Drift is first-class: the build batch's cell-occupancy profile is stored
as the baseline manifest, and every append publishes a one-row drift
part (TV distance vs that baseline, ``operators.pq.occupancy_drift``)
keyed by its batch id — :func:`needs_retrain` then answers "has the
stream drifted past the retrain threshold?" from the parts alone,
without touching the members. Appends stay searchable either way
(recall decays with drift, correctness doesn't — the faiss caveat), so
drift RECORDS loudly rather than failing the stream; retraining is a
planned rebuild, not a micro-batch decision.

Scale: per batch the work is one broadcast cell assignment + a narrow
encode; members land bucketable-by-cell for an exchange-free search
side at rest. State lives in storage (artifacts + parquet), not the
state store — executors hold nothing between batches.

Layout under ``index_dir``:
  ``members/``        pq members (cell, vid, codes, nrm) ∂ _batch_id
  ``centroids/``      coarse quantizer (written once, at build)
  ``codebooks.json``  PQ codebooks artifact (once, at build)
  ``occupancy.json``  build-time cell-occupancy baseline (once)
  ``drift_parts/``    per-batch drift rows ∂ _batch_id
  ``<index_dir>_knobs.json``  fingerprint + committed head (sibling)
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import pq as pqops


def _paths(index_dir: str) -> dict:
    root = index_dir.rstrip("/")
    return {
        "members": os.path.join(root, "members"),
        "centroids": os.path.join(root, "centroids"),
        "codebooks": os.path.join(root, "codebooks.json"),
        "occupancy": os.path.join(root, "occupancy.json"),
        "drift": os.path.join(root, "drift_parts"),
        "knobs": root + "_knobs.json",
    }


def make_ann_index_ingest(
    index_dir: str,
    *,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    n_cells: int | None = None,
    m: int = 8,
    ksub: int = 16,
    train_iters: int = 10,
    residual: bool = False,
    retrain_threshold: float = 0.25,
    compact_every: int | None = 64,
    round_decimals: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body: ``fn(batch_df, batch_id)``.

    Every ``compact_every`` batches the committed members and drift
    partitions fold into the base partition by row-preserving
    concatenation (``sinks.compact.compact_rows_parts``) — a long-lived
    stream otherwise accumulates one directory per batch and every
    search pays the listing. None disables.

    Wire it as ``stream.writeStream.foreachBatch(fn)``. The first batch
    that arrives trains the quantizers (bounded-sample, deterministic —
    operators/similarity.train_centroids) and becomes the drift
    baseline, so point the stream at a representative slice first or
    pre-build with :func:`~..operators.pq.ivf_pq_index` and write the
    artifacts into the same layout. The quantizer shape and column
    names are fingerprinted (``<index_dir>_knobs.json``); a redeploy
    that changes any of them fails its first batch loudly — codes from
    different (m, ksub, residual, rotation) spaces are not
    interchangeable. Empty batches are no-ops (nothing to encode, no
    drift row — TV against an empty histogram is undefined, not 1.0).
    """
    p = _paths(index_dir)
    knobs = {
        "format": "annindex-knobs/v1",
        "vec_id": vec_id,
        "embedding": embedding,
        "n_cells": n_cells,
        "m": m,
        "ksub": ksub,
        "train_iters": train_iters,
        "residual": residual,
        "retrain_threshold": retrain_threshold,
        # quantized-training knob (operators/pq round_decimals): codes
        # from quantized and unquantized spaces differ at tie margins,
        # so it is part of the index's identity like m/ksub. Set it (6)
        # to make the whole ingest engine-replayable — the two-phase
        # DuckDB oracle in tests/test_annindex_stream_oracle.py replays
        # training, assignment, and encode exactly at this contract.
        "round_decimals": round_decimals,
    }

    def _on_claim(keys: list[str]) -> None:
        # the key is newer than some indexes (r11): a legacy knobs file
        # lacks it, and check_knobs' claim path would otherwise record
        # whatever the redeploy passed. Claiming the honest legacy value
        # (None) is fine; claiming a QUANTIZED contract onto an index
        # whose quantizers were trained without it would encode new
        # batches under a rounding rule the build never used AND make
        # the fingerprint assert a replayability the members don't have.
        # Discriminator is index CONTENT, not file age: before the
        # codebooks exist nothing was trained, so a fresh index (or a
        # mid-build crash replay) claims freely and trains quantized.
        if (
            "round_decimals" in keys
            and round_decimals is not None
            and os.path.exists(p["codebooks"])
        ):
            raise ValueError(
                "ann ingest: cannot claim round_decimals="
                f"{round_decimals!r} onto an already-built index — its "
                "quantizers were trained WITHOUT the quantized contract, "
                "so tie-margin codes would diverge from the index's own "
                "build rule; rebuild under the quantized configuration "
                "(rebuild_ann_index) or keep round_decimals=None"
            )

    def _publish_parts(spark, members: DataFrame, batch_id: int) -> None:
        """Members partition + its drift part, each a batch-keyed
        per-WRITE dynamic overwrite (scoped to the write, never a
        session-conf mutation: a session-level 'dynamic' would leak into
        every later overwrite-partitionBy write on this driver). The baseline is
        read BEFORE anything lands: a malformed pre-built layout (e.g.
        missing occupancy.json) must fail the batch before it publishes,
        not strand an orphaned members partition behind a wedged
        stream."""
        from ..functions.artifacts import read_json_artifact

        from .ingestbase import write_drift_part

        if not os.path.exists(p["occupancy"]):
            # a hand-pre-built layout (the docstring's ivf_pq_index path)
            # that skipped the baseline: fail actionably before anything
            # lands, same as the semantic ingest's upgrade guard
            raise ValueError(
                f"ann ingest: {p['occupancy']} is missing on an "
                "already-built index — run "
                "streaming.annindex.backfill_occupancy(spark, index_dir) "
                "once (stream stopped) to derive the baseline from the "
                "current members' cell counts, then restart"
            )
        baseline = read_json_artifact(p["occupancy"], "ann-occupancy/v1")[
            "profile"
        ]
        members = members.withColumn(
            "_batch_id", F.lit(int(batch_id))
        ).persist()
        try:
            verdict = pqops.occupancy_drift(
                baseline,
                members.drop("_batch_id"),
                retrain_threshold=retrain_threshold,
            )
            (
                members.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(p["members"])
            )
            write_drift_part(
                spark,
                p["drift"],
                batch_id,
                verdict["tv_distance"],
                verdict["retrain"],
                retrain_threshold,
            )
        finally:
            members.unpersist()

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.artifacts import atomic_write_json
        from .ingestbase import (
            batch_fingerprint,
            check_knobs,
            check_sequence,
            fingerprint_is_empty,
            record_head,
            replay_folded_head,
        )

        spark = batch_df.sparkSession
        check_knobs(
            p["knobs"],
            "annindex-knobs/v1",
            knobs,
            mismatch_hint=(
                "PQ codes from different (m, ksub, residual) spaces — or "
                "a different vector column — are not interchangeable; "
                "rebuild the index or restore the original configuration"
            ),
            on_claim=_on_claim,
        )
        fp = batch_fingerprint(batch_df, vec_id)
        check_sequence(p["knobs"], "annindex-knobs/v1", batch_id, fp)
        if replay_folded_head(p["knobs"], "annindex-knobs/v1", batch_id, fp):
            # a rebuild already folded this head batch's rows into the
            # base partition — re-encoding would duplicate every vector
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # batches < batch_id are committed (foreachBatch serializes
            # epochs) — never this batch's own partition. Drift parts
            # compact under mergeSchema: parts written before the in-row
            # `batch` column existed must fold as NULL-batch rows, not
            # silently bind whichever schema the footer sample picked.
            from ..sinks.compact import compact_rows_parts

            compact_rows_parts(spark, p["members"], batch_id)
            compact_rows_parts(spark, p["drift"], batch_id, merge_schema=True)
        if fingerprint_is_empty(fp):
            record_head(p["knobs"], "annindex-knobs/v1", batch_id, fp)
            return
        if not os.path.exists(p["codebooks"]):
            # ---- build batch: train quantizers, become the baseline ----
            cents, members, books = pqops.ivf_pq_index(
                batch_df,
                n_cells=n_cells,
                m=m,
                ksub=ksub,
                vec_id=vec_id,
                embedding=embedding,
                train_iters=train_iters,
                residual=residual,
                round_decimals=round_decimals,
            )
            members = members.persist()
            try:
                # members first: the baseline profile reads them back, so
                # a crash mid-build leaves no codebooks.json and the
                # replay simply rebuilds (deterministic training —
                # train_centroids' bounded-sample md5 order)
                (
                    members.withColumn("_batch_id", F.lit(int(batch_id)))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(p["members"])
                )
                cents.write.mode("overwrite").parquet(p["centroids"])
                profile = pqops.cell_occupancy_profile(members)
                atomic_write_json(
                    p["occupancy"],
                    {"format": "ann-occupancy/v1", "profile": profile},
                )
                from .ingestbase import write_drift_part

                write_drift_part(
                    spark, p["drift"], batch_id, 0.0, False, retrain_threshold
                )
                # codebooks LAST: their existence is the "index is built"
                # marker that routes every later batch to the append path
                pqops.save_pq_codebooks(books, p["codebooks"])
            finally:
                members.unpersist()
            record_head(p["knobs"], "annindex-knobs/v1", batch_id, fp)
            return
        # ---- append batch: encode at frozen quantizers -----------------
        books = pqops.load_pq_codebooks(p["codebooks"])
        # declared schema on the per-batch centroid read (the
        # ingestbase.read_engine_parts rationale)
        from ..operators.similarity import TRAINED_CENTROIDS_SCHEMA
        from .ingestbase import read_engine_parts

        cents = read_engine_parts(spark, p["centroids"], TRAINED_CENTROIDS_SCHEMA)
        members = pqops.ivf_pq_append(
            batch_df,
            cents,
            books,
            vec_id=vec_id,
            embedding=embedding,
            residual=residual,
            round_decimals=round_decimals,
        )
        _publish_parts(spark, members, batch_id)
        record_head(p["knobs"], "annindex-knobs/v1", batch_id, fp)

    return ingest


def read_ann_index(
    spark, index_dir: str
) -> tuple[DataFrame, DataFrame, list[list[list[float]]]]:
    """(centroids, pq_members, codebooks) for
    :func:`~..operators.pq.ann_ivf_pq_topk` — the accumulated index, all
    batches, bookkeeping column dropped."""
    p = _paths(index_dir)
    return (
        spark.read.parquet(p["centroids"]),
        spark.read.parquet(p["members"]).drop("_batch_id"),
        pqops.load_pq_codebooks(p["codebooks"]),
    )


def backfill_occupancy(spark, index_dir: str) -> None:
    """One-time baseline derivation for an index whose layout predates —
    or skipped — ``occupancy.json`` (e.g. hand-pre-built with
    ``ivf_pq_index``). Shared body:
    :func:`~.ingestbase.backfill_occupancy_baseline`. Run while the
    stream is STOPPED."""
    from .ingestbase import backfill_occupancy_baseline

    backfill_occupancy_baseline(spark, index_dir, "annindex-knobs/v1")


def drift_history(spark, index_dir: str) -> DataFrame:
    """One row per batch: (batch, tv_distance, retrain,
    retrain_threshold) plus the ``_batch_id`` write key — the monitor's
    raw series. ``batch`` rides in the row so the series survives
    rows-compaction of old partitions into the base."""
    from .ingestbase import drift_parts_history

    return drift_parts_history(spark, _paths(index_dir)["drift"])


def needs_retrain(spark, index_dir: str) -> bool:
    """True when any appended batch drifted past the retrain threshold —
    answered from the drift parts alone (O(batches) tiny rows), the
    members are never scanned. The planned response is
    :func:`rebuild_ann_index`, not a stream failure."""
    from .ingestbase import drift_needs_retrain

    return drift_needs_retrain(spark, _paths(index_dir)["drift"])


def rebuild_ann_index(emb: DataFrame, index_dir: str) -> None:
    """The action :func:`needs_retrain` points to — retrain the
    quantizers on the CURRENT corpus and re-encode everything, closing
    the drift loop the way ``fix_split_leakage`` closes the leakage
    audit's.

    ``emb`` is the corpus to rebuild from (the original vectors — PQ
    members hold codes, not vectors, so the caller owns the source of
    truth; typically the survivor table the same stream feeds). Run it
    while the stream is STOPPED (same contract as ``backfill_stats``):
    the rebuild folds all members into the reserved base partition
    (``_batch_id`` = −1, the compaction discipline — real batch ids stay
    unique), resets the occupancy baseline and the drift history to the
    rebuilt state, and rewrites the artifacts in dependency-safe order
    (codebooks/centroids/occupancy last-write-wins under a stopped
    stream; the shape knobs come from the index's own fingerprint so the
    rebuilt code space matches what the resuming stream expects). The
    committed head is PRESERVED — the resuming stream's batch ids
    continue from the checkpoint, and the collision guard keeps working.
    ``rebuilt_through`` (the head at rebuild time) is recorded so that a
    checkpoint-lagged replay of the head batch — whose rows the rebuild
    already folded into the base — lands as a safe no-op instead of
    duplicating every vector. Contract: run after a CLEAN stop; a stream
    killed mid-publish must replay to convergence before rebuilding.

    Cost: one quantizer training (bounded sample) + one corpus encode —
    the O(corpus) price that makes per-batch appends O(batch) the rest
    of the time.

    Crash-safe: the whole rebuilt index assembles in a STAGING directory
    and swaps in atomically (``sinks.upsert.swap_into_place`` — the same
    protocol every destructive rewrite in this engine uses), so a crash
    mid-rebuild leaves the original index fully intact and internally
    consistent; re-running is idempotent. ``rebuilt_through`` is recorded
    BEFORE the swap — safe on both sides of it: against the old index the
    head batch's partitions already exist so its no-op replay is correct,
    against the new one they are folded into the base."""
    from ..functions.artifacts import atomic_write_json, read_json_artifact
    from ..sinks.compact import BASE_PART
    from ..sinks.upsert import swap_into_place

    spark = emb.sparkSession
    root = index_dir.rstrip("/")
    stored = read_json_artifact(root + "_knobs.json", "annindex-knobs/v1")
    cents, members, books = pqops.ivf_pq_index(
        emb,
        n_cells=stored["n_cells"],
        m=stored["m"],
        ksub=stored["ksub"],
        vec_id=stored["vec_id"],
        embedding=stored["embedding"],
        train_iters=stored["train_iters"],
        residual=stored["residual"],
    )
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(
        prefix=os.path.basename(root) + ".rebuild.",
        dir=os.path.dirname(root) or ".",
    )
    sp = _paths(staging)
    members = members.persist()
    try:
        (
            members.withColumn("_batch_id", F.lit(BASE_PART))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(sp["members"])
        )
        cents.write.mode("overwrite").parquet(sp["centroids"])
        profile = pqops.cell_occupancy_profile(members)
        atomic_write_json(
            sp["occupancy"], {"format": "ann-occupancy/v1", "profile": profile}
        )
        from .ingestbase import write_drift_part

        write_drift_part(
            spark, sp["drift"], BASE_PART, 0.0, False,
            stored["retrain_threshold"],
        )
        pqops.save_pq_codebooks(books, sp["codebooks"])
        if stored.get("last_batch_id") is not None:
            atomic_write_json(
                root + "_knobs.json",
                {
                    **read_json_artifact(
                        root + "_knobs.json", "annindex-knobs/v1"
                    ),
                    "rebuilt_through": int(stored["last_batch_id"]),
                },
            )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        members.unpersist()
        raise
    members.unpersist()
    swap_into_place(staging, root)
