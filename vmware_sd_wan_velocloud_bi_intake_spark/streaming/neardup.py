"""Streaming near-duplicate ingest: the `near_dup_pairs_incremental`
daily-ingest shape (operators/dedup.py) lifted onto Structured Streaming
micro-batches via ``foreachBatch``.

Each micro-batch is (1) exact-deduped and near-deduped WITHIN the batch
(min-id survivor, the batch engine's rule), (2) near-dup-checked against
the PERSISTED LSH index — an O(batch) bucket equi-join plus the
writer-maintained summary for the degenerate-bucket cap, the corpus is
never re-shingled — and (3) the novel survivors are appended to the
survivors table while their band rows and per-bucket counts grow the
index. Duplicate-of-corpus docs are dropped; first arrival wins across
batches (within a batch, lowest id — so with ids monotone in arrival
order the stream converges to the batch run's survivor set, which is
what the parity test pins; exception at the margin: a verified pair of
two LOSERS straddling a batch boundary — the one-shot run drops doc_b
of every pair, the stream only checks new docs against survivors, so
the later loser would stream-survive; τ-Jaccard's weak transitivity
makes such survivor-free chains rare. The catalog vehicle's DuckDB
oracle does NOT depend on their absence: since r11 it is a two-phase
replay of the stream's own semantics — per-batch dedup, then batch 1
probed against batch 0's survivors under the combined-membership cap —
so it agrees with the stream at any fixture/sf).

Idempotent under micro-batch REPLAY (the foreachBatch at-least-once
reality): every write is a dynamic partition overwrite keyed by
``_batch_id``, and the replay EXCLUDES its own ``_batch_id`` from both
the index and the summary before the incremental check — so a retried
batch always recomputes against exactly the pre-batch corpus state and
rewrites all three of its partitions byte-identically, whether the prior
attempt published completely, partially, or crashed between the index
and summary writes (that last window used to orphan the batch's summary
part forever: the batch's band rows were already in the index, every doc
self-matched, ``novel`` was empty, and the zero-partition dynamic
overwrite never rewrote the summary — undercounting the cap from then
on). The exclusion is a partition-pruned filter on the write key, so it
costs a listing, not a scan. The summary is stored as per-batch PARTS
(counts are associative); readers aggregate the parts — a bounded table,
one row per (batch, bucket) touched. All three replay cases are pinned
in tests/test_streaming_neardup.py.

Scale: per batch the work is O(|batch| × bucket-hit-rate) — the index
side contributes precomputed rows through the bucket join (write it
bucketed for an exchange-free corpus side at rest), and the summary keeps
the viral-bucket cap O(|batch|). State lives in storage, not the state
store: executors hold nothing between batches, so this composes with any
cluster size and survives restarts through the checkpoint + the
batch-id-keyed writes alone.

Per-batch execution is sized to the data it touches. The content
fingerprint (one job) runs first and also sums the batch's text bytes;
the rest of the batch runs under ``functions.conf.iterative_loop_confs``
(AQE off) at ``functions.conf.sized_partition_count`` of the batch's rows
and of the bytes its exchanges can carry: the batch's band rows, estimated
from its text bytes, plus the index and summary it joins and aggregates,
estimated from their on-disk bytes (a listing, no job). A small batch over
a small corpus runs at one partition; a wide batch or a large summary gets
the partitions its bytes need. On the perfbench stream corpus a 200-doc
batch is 9 Spark jobs and a compaction batch 15 (SCALE.md, "stream: the
near-dup batch sized to its rows"): the summary, index and survivors
compactions run concurrently (``functions.conf.run_together``, a pool per
call that closes before the call returns).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.conf import run_together
from ..operators import dedup


# the summary parts' schema is engine-owned (written a few lines below),
# so per-batch reads declare it instead of re-inferring — schema inference
# lists the parts tree and reads a footer on EVERY micro-batch of a
# long-lived stream for information the writer already knows
_SUMMARY_SCHEMA = "bucket string, n_members long, _batch_id int"


def _summary(spark, parts_dir: str, exclude_batch_id: int) -> DataFrame | None:
    """Aggregated writer-maintained summary EXCLUDING the given batch's own
    part (replay must see the pre-batch state — including it would
    double-count the batch at the cap margin), or None when the parts dir
    is missing entirely (a crash before any summary landed — the replay
    must still run: near_dup_pairs_incremental's documented fallback
    derives the summary from the index in-plan for that one batch instead
    of wedging the stream on a nonexistent path)."""
    if not os.path.isdir(parts_dir):
        return None
    parts = spark.read.schema(_SUMMARY_SCHEMA).parquet(parts_dir).where(
        F.col("_batch_id") != F.lit(int(exclude_batch_id))
    )
    return parts.groupBy("bucket").agg(
        F.sum("n_members").cast("long").alias("n_members")
    )


# In-memory bytes per on-disk parquet byte of the index and summary
# tables: dictionary and run-length encoding shrink band rows (one doc's
# shingle array repeats once per band) 2.8-5.7x on disk, measured on the
# perfbench stream corpus and on 5-word and 2,000-word synthetic docs.
# The summary's md5 bucket strings compress less, so it is over-counted.
_PARQUET_EXPANSION = 6


def compact_summary_parts(spark, index_dir: str, before_batch_id: int) -> bool:
    """Roll summary parts with ``_batch_id < before_batch_id`` into ONE
    base part (``_batch_id = -1``), bounding the reader aggregate at
    O(buckets) instead of O(batches × buckets) on a long-lived stream.

    SAFE only for batches that can no longer replay: foreachBatch
    serializes epochs, so when batch B runs, every batch < B has
    committed — pass ``before_batch_id = current batch id`` (the ingest's
    auto-compaction does). The base id −1 never equals a real batch id,
    so the replay-time own-batch exclusion filter keeps working, and
    counts are associative so folding parts never changes the aggregate
    (verified per-bucket before the swap). The fold/verify/swap protocol
    is the shared :func:`~..sinks.compact.compact_parts` staging-dir
    skeleton: readers never observe a half-compacted parts table, a
    crash mid-compaction leaves the original intact, re-running is
    idempotent.

    Returns True when a compaction happened (≥2 foldable parts), False
    for the no-op cases (missing dir, nothing to fold).
    """
    from ..sinks.compact import compact_parts

    def fold(old: DataFrame) -> DataFrame:
        return old.groupBy("bucket").agg(
            F.sum("n_members").cast("long").alias("n_members")
        )

    def verify(parts: DataFrame, staged: DataFrame) -> None:
        # associativity check: per-bucket totals must be byte-identical.
        # DISTRIBUTED — the summary is one row per distinct LSH bucket,
        # which grows with the corpus; collecting it to the driver would
        # OOM routine maintenance at exactly the scale compaction exists
        # for. A full-outer join + existence probe verifies the same
        # invariant with one cheap job and at most one row to the driver.
        before = parts.groupBy("bucket").agg(F.sum("n_members").alias("_n_b"))
        after = staged.groupBy("bucket").agg(F.sum("n_members").alias("_n_a"))
        mismatched = (
            before.join(after, "bucket", "full")
            .where(
                F.coalesce(F.col("_n_b"), F.lit(-1))
                != F.coalesce(F.col("_n_a"), F.lit(-2))
            )
            .limit(1)
            .count()
        )
        if mismatched:
            raise RuntimeError(
                "compact_summary_parts: per-bucket totals changed; "
                "refusing the swap"
            )

    parts_dir = index_dir.rstrip("/") + "_summary_parts"
    return compact_parts(spark, parts_dir, before_batch_id, fold, verify)


def make_near_dup_ingest(
    index_dir: str,
    survivors_dir: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1024,
    compact_summary_every: int | None = 64,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body: ``fn(batch_df, batch_id)``.

    Wire it as ``stream.writeStream.foreachBatch(fn)`` (output mode
    append, any trigger). The LSH knobs must match across every ingest
    that shares ``index_dir`` — band rows from different (num_hashes,
    bands, shingle_n) are not comparable. This is ENFORCED: the first
    ingest fingerprints its knobs at ``<index_dir>_knobs.json`` (atomic
    write) and every later ingest — any process, any restart — validates
    against it, so a misconfigured redeploy fails its first batch loudly
    instead of silently growing the index with incomparable rows.
    threshold/max_bucket are fingerprinted too: they don't break row
    comparability, but changing them mid-stream silently changes which
    docs survive.

    Every ``compact_summary_every`` batches the per-batch parts older
    than the current batch are rolled into one base partition: the
    summary by refold (:func:`compact_summary_parts`), the band-row
    index and the survivors table by row-preserving concatenation
    (``sinks.compact.compact_rows_parts``) — without this a long-lived
    stream's every read pays an O(batches) partition listing. The tables
    compact concurrently, each with its own staging, verify and swap,
    after the guards and before the batch's reads are planned. Pass None
    to disable (e.g. when an external maintenance job owns compaction).

    Each call runs the fingerprint guard first, then the rest of the
    batch under a conf scope sized from the batch's rows and text bytes
    (both from the fingerprint's job) and the index and summary's on-disk
    bytes, and restores the session's confs on the way out, also when it
    raises.
    """
    summary_dir = index_dir.rstrip("/") + "_summary_parts"
    knobs = {
        "format": "neardup-knobs/v1",
        "threshold": threshold,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_bucket": max_bucket,
        # the id/text columns are part of the index's identity for the
        # same reason the LSH shape is: a redeploy that switches either
        # (doc_id='id', text_col='body') shingles a DIFFERENT column and
        # keys survivors in a different id namespace — band rows become
        # silently incomparable even though every LSH knob matches
        "doc_id": doc_id,
        "text_col": text_col,
    }
    knobs_path = index_dir.rstrip("/") + "_knobs.json"

    # per-stream hoisted pieces — built ONCE per ingest instead of once
    # per micro-batch. Column expressions are immutable and reusable
    # across batches (the _lsh_row_exprs argument in operators/dedup.py).
    from pyspark.sql import Window

    from ..operators.text import normalize_text

    _dedup_key_col = F.md5(normalize_text(F.col(text_col))).alias("_dedup_key")
    _keep_window = Window.partitionBy("_dedup_key")

    def _bytes_in_flight(text_bytes: int) -> int:
        """What the batch's exchanges can carry, estimated without a job.
        The batch side is its band rows: one per doc per band, each with
        the doc's whole shingle array, in which every word sits in
        ``shingle_n`` shingles and each shingle costs its bytes rounded up
        to 8 plus an 8-byte slot — about ``shingle_n + 2`` bytes per text
        byte per band (measured 4.5-5.2 at shingle_n=3 on docs of 5 to
        2,000 words). The corpus side is the index the probe joins and the
        summary it aggregates (and compaction refolds): their on-disk
        bytes, a listing, times the parquet expansion."""
        from ..sinks.compact import dataset_bytes

        state = dataset_bytes(index_dir) + dataset_bytes(summary_dir)
        return text_bytes * bands * (shingle_n + 2) + _PARQUET_EXPANSION * state

    def _compact_all(spark, batch_id: int) -> None:
        """Fold every table's parts below ``batch_id`` into its base, all
        tables at once: each compaction reads, stages, verifies and swaps
        its OWN directory, so they are independent. A failure in one
        leaves "some subset compacted" — a state the replay discipline
        already accepts, because compaction folds only batches that can
        no longer replay."""
        from ..sinks.compact import compact_rows_parts

        jobs = [
            lambda: compact_summary_parts(spark, index_dir, batch_id),
            # the row tables (band rows, survivors) fold by concatenation
            # — without it every batch's index read pays an O(batches)
            # partition listing on a long-lived stream
            lambda: compact_rows_parts(spark, index_dir, batch_id),
            lambda: compact_rows_parts(spark, survivors_dir, batch_id),
        ]
        run_together(spark, jobs)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.conf import iterative_loop_confs, sized_partition_count
        from .ingestbase import (
            batch_profile,
            check_knobs,
            check_sequence,
            fingerprint_is_empty,
            fingerprint_rows,
            record_head,
        )

        spark = batch_df.sparkSession
        check_knobs(
            knobs_path,
            "neardup-knobs/v1",
            knobs,
            mismatch_hint=(
                "band rows from different LSH shapes are not comparable; "
                "rebuild the index or restore the original configuration"
            ),
        )
        # batch-id collision guard: the own-batch replay exclusion below
        # assumes batch ids are unique for the index's LIFETIME, but
        # Spark numbers batches per CHECKPOINT — a fresh-checkpoint
        # restart would hide, then overwrite, committed partitions. The
        # shared guard (ingestbase) fails those loudly and lets true
        # replays (same id, same content) through. It runs before the
        # first side effect (compaction or a write), with AQE off: its
        # one global aggregation is then one job, not two.
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with iterative_loop_confs(spark, current):
            fp, text_bytes = batch_profile(batch_df, doc_id, text_col)
        check_sequence(knobs_path, "neardup-knobs/v1", batch_id, fp)
        # The rest of the batch runs at the size of the data it touches,
        # with AQE off (functions/conf.py's rule for data in flight).
        # Under AQE each of the dedup chain's ~20 small exchanges and
        # broadcasts is its own job — 26 jobs for the survivors write of
        # a 200-row batch. The rows and text bytes are the fingerprint's
        # and the corpus side is a listing, so sizing costs no job; the
        # bytes keep a wide batch, a large index (a sort-merge probe
        # shuffles it) and a large summary (aggregated every batch,
        # refolded by compaction) at the partitions their bytes need. The
        # scope opens before the first persist (a persist plans its
        # cached query eagerly), and each ``run_together`` pool closes
        # inside it, so no pool thread outlives the batch or runs under
        # the restored confs.
        partitions = sized_partition_count(
            spark, fingerprint_rows(fp), _bytes_in_flight(text_bytes)
        )
        with iterative_loop_confs(spark, partitions):
            if (
                compact_summary_every
                and batch_id > 0
                and batch_id % compact_summary_every == 0
            ):
                # batches < batch_id are all committed (foreachBatch
                # serializes epochs) — never this batch's own part, so
                # the replay exclusion below is unaffected. Awaited
                # before the summary/index reads are planned.
                _compact_all(spark, batch_id)
            # empty-batch guard (mirrors semdedup): an empty
            # FIRST batch would otherwise dynamic-overwrite zero
            # partitions, leaving index_dir/survivors_dir as
            # _SUCCESS-only directories — the next batch's
            # os.path.isdir(index_dir) then routes into a
            # spark.read.parquet that fails schema inference
            # (UNABLE_TO_INFER_SCHEMA) on EVERY replay, wedging the stream
            # until someone deletes the directory. Skip all writes, but
            # record the head so replay and collision guards still see
            # the batch.
            if not fingerprint_is_empty(fp):
                _dedup_and_publish(spark, batch_df, batch_id)
            record_head(knobs_path, "neardup-knobs/v1", batch_id, fp)

    def _dedup_and_publish(spark, batch_df: DataFrame, batch_id: int) -> None:
        # ---- within-batch exact dedup: ONE window shuffle ---------------
        # min-id-per-content via a window over the content digest — one
        # exchange, where groupBy(digest) + two semi-join-backs cost
        # three. Same survivor rule (lowest id per normalized-content
        # md5, nulls grouped like exact_dedup_keys' null key).
        clash = {"_dedup_key", "_keep"} & set(batch_df.columns)
        if clash:
            raise ValueError(
                f"near-dup ingest: batch carries reserved column(s) "
                f"{sorted(clash)} — the within-batch exact-dedup window "
                "would overwrite and then DROP them, silently losing "
                "user data from the survivors table; rename them upstream"
            )
        batch1 = (
            batch_df.select("*", _dedup_key_col)
            .withColumn("_keep", F.min(doc_id).over(_keep_window))
            .where(F.col(doc_id) == F.col("_keep"))
            .drop("_dedup_key", "_keep")
        )
        # ---- ONE signature pass per batch ------------------------------
        # The shingle+minhash stage is the batch's dominant CPU cost, and
        # three consumers need its output: the within-batch near-dup
        # check, the incremental check against the persisted index, and
        # the index append for the novel rows. Compute the band rows once
        # over the exact KEEPERS (exact duplicates never reach the index,
        # so a duplicate-heavy batch shingles once per distinct content),
        # persist, and derive each consumer's slice by filtering — the
        # former shape re-shingled the batch once per consumer.
        band_rows_all = dedup.lsh_bucket_table(
            batch1, doc_id, text_col, num_hashes, bands, shingle_n
        ).persist()
        rows1 = band_rows_all
        in_pairs = dedup.near_dup_pairs_from_rows(
            rows1, threshold=threshold, max_bucket=max_bucket
        )
        in_losers = in_pairs.select(F.col("doc_b").alias(doc_id)).distinct()
        batch2 = batch1.join(in_losers, doc_id, "left_anti")
        rows2 = rows1.join(in_losers, doc_id, "left_anti")
        # ---- against the persisted corpus index (O(batch)) -------------
        # Exclude this batch's OWN partition from both the index and the
        # summary: on replay that is exactly the pre-batch corpus state,
        # so the novel set recomputes identically and the overwrite below
        # restores all three partitions (including a summary part lost to
        # a crash between the index and summary writes). Partition-pruned
        # on the write key — a listing-level filter, not a scan.
        if os.path.isdir(index_dir):
            # declared schema, not inference: the index layout is
            # engine-owned (lsh_bucket_table's columns + the batch key);
            # only the id type follows the source — taken from the live
            # batch, which reads the same stream. Inference would list +
            # footer-read the index on every micro-batch.
            from pyspark.sql.types import (
                ArrayType,
                IntegerType,
                StringType,
                StructField,
                StructType,
            )

            idx_schema = StructType(
                [
                    StructField("doc_id", batch_df.schema[doc_id].dataType),
                    StructField("sh", ArrayType(StringType())),
                    StructField("bucket", StringType()),
                    StructField("_batch_id", IntegerType()),
                ]
            )
            index = spark.read.schema(idx_schema).parquet(index_dir).where(
                F.col("_batch_id") != F.lit(int(batch_id))
            )
            pairs = dedup.near_dup_pairs_incremental(
                batch2,
                index,
                doc_id,
                text_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                max_bucket=max_bucket,
                corpus_summary=_summary(spark, summary_dir, batch_id),
                new_rows=rows2,
            )
            corpus_losers = pairs.select(
                F.col("new_doc").alias(doc_id)
            ).distinct()
            novel = batch2.join(corpus_losers, doc_id, "left_anti")
        else:
            novel = batch2
        # ---- idempotent writes, keyed by the replayable batch id -------
        # per-WRITE dynamic overwrite: scoped to each write, never
        # mutates the session conf — a session-level set would leak
        # 'dynamic' into every later overwrite-partitionBy write on this
        # driver (e.g. a re-export with fewer shards would keep stale
        # shard partitions)
        novel = novel.withColumn("_batch_id", F.lit(int(batch_id))).persist()
        rows = None
        try:
            (
                novel.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(survivors_dir)
            )
            # novel's band rows from the two PERSISTED relations (the
            # survivors write above materialized `novel`, so the full
            # dedup chain has already run exactly once) — deriving them
            # from the loser-chain slices instead would re-execute the
            # unpersisted pair pipelines once per remaining write.
            # Persisted itself: the index write AND the summary write
            # both consume it — without the persist the semi-join reruns
            # for the summary (one avoidable stage per micro-batch; the
            # r11 per-section profile put the summary write at 0.85 s of
            # batch 1's 3.1 s, ~half of it this recompute)
            rows = (
                band_rows_all.join(novel.select(doc_id), doc_id, "left_semi")
                .withColumn("_batch_id", F.lit(int(batch_id)))
                .persist()
            )

            # the index write and the summary part are INDEPENDENT
            # sinks over already-persisted relations — run
            # them concurrently instead of serially (guide §2.6). Each
            # write is still its own batch-keyed idempotent dynamic
            # overwrite, so the crash-window states are exactly the ones
            # the replay discipline already covers (any subset of the
            # three published); a failure in either thread is raised
            # after both finish and before the head is recorded. The summary
            # part comes from the SAME in-memory rows relation (counts
            # are deterministic) — not a read-back of what was just
            # written: on object stores the listing+read round trip
            # dominates small-batch latency for no extra safety.
            def _write_index() -> None:
                (
                    rows.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(index_dir)
                )

            def _write_summary() -> None:
                (
                    rows.groupBy("bucket")
                    .agg(F.count("*").cast("long").alias("n_members"))
                    .withColumn("_batch_id", F.lit(int(batch_id)))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(summary_dir)
                )

            run_together(spark, [_write_index, _write_summary])
        finally:
            novel.unpersist()
            band_rows_all.unpersist()
            if rows is not None:
                rows.unpersist()

    return ingest


def read_survivors(spark, survivors_dir: str) -> DataFrame:
    """The accumulated survivor corpus (drops the bookkeeping column) —
    the reader through which the ingest's output is checked."""
    return spark.read.parquet(survivors_dir).drop("_batch_id")
