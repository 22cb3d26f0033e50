"""``stream`` workload: near-dup ingest of a growing corpus.

One op is one ``foreachBatch`` call of the ingest that
``streaming.neardup.make_near_dup_ingest`` builds, invoked directly on a
fixed-size batch of the seeded corpus (:mod:`perfbench.corpus`). The index
and the survivors table grow with every batch, and ``COMPACT_EVERY`` is
low enough that compaction fires inside every run. The op's item is one
document ingested.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup
from vmware_sd_wan_velocloud_bi_intake_spark.streaming.neardup import make_near_dup_ingest

from . import corpus
from .catalog import CatalogProbe
from .stats import median, quarter_medians

BATCH = 200
# compaction fires on batch ids divisible by COMPACT_EVERY; a run measures
# whole cycles of COMPACT_EVERY ops, so each holds the same compaction share
COMPACT_EVERY = 2
WARMUP_BATCHES = 1  # live batches run in set-up
# Set-up first ingests these batches into a separate index of their own,
# whose survivors the replay check compares with the live index's after the
# measured ops. The replay needs that ingest anyway; in set-up it also warms
# the ingest path before the live index sees its first batch.
REPLAY_BATCHES = 1
SCHEMA = "doc_id long, text string"


def read_parts(table_dir: str, columns: list[str]):
    """Every parquet part under a ``_batch_id=<n>``-partitioned table."""
    files = sorted(glob.glob(os.path.join(table_dir, "_batch_id=*", "*.parquet")))
    return pq.ParquetDataset(files).read(columns=columns)


class Stream:
    ops_multiple = COMPACT_EVERY

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.index_dir, self.surv_dir = self._dirs("live")
        self.ingest = make_near_dup_ingest(
            self.index_dir, self.surv_dir, compact_summary_every=COMPACT_EVERY
        )
        self._next: tuple[int, object] | None = None

    def _dirs(self, tag: str) -> tuple[str, str]:
        base = os.path.join(self.work_dir, tag)
        return os.path.join(base, "index"), os.path.join(base, "survivors")

    def _batch_df(self, b: int):
        return self.spark.createDataFrame(corpus.batch(self.seed, b, BATCH), SCHEMA)

    def setup(self) -> None:
        replay = make_near_dup_ingest(*self._dirs("replay"), compact_summary_every=COMPACT_EVERY)
        for b in range(REPLAY_BATCHES):
            replay(self._batch_df(b), b)
        for b in range(WARMUP_BATCHES):
            self.ingest(self._batch_df(b), b)

    def prepare(self, i: int) -> None:
        """Build the next op's input outside the timed region."""
        b = WARMUP_BATCHES + i
        self._next = (b, self._batch_df(b))

    def op(self, i: int, op: str) -> int:
        b, df = self._next
        self.ingest(df, b)
        return BATCH

    # ---- output checks ----------------------------------------------------

    def _survivors(self, surv_dir: str):
        return read_parts(surv_dir, ["doc_id", "text"]).to_pandas()

    def check(self, i: int) -> list[str]:
        n_docs = (WARMUP_BATCHES + i + 1) * BATCH
        return corpus.survivor_issues(self.seed, n_docs, self._survivors(self.surv_dir))

    def replay_check(self) -> tuple[list[str], str]:
        """The first batches, ingested into a fresh index: same survivors."""
        _, surv_dir = self._dirs("replay")
        limit = REPLAY_BATCHES * BATCH
        live = self._survivors(self.surv_dir)
        live_ids = sorted(int(x) for x in live["doc_id"] if x < limit)
        replay_ids = sorted(int(x) for x in self._survivors(surv_dir)["doc_id"])
        digest = corpus.ids_hash(live_ids)
        if live_ids != replay_ids:
            return [f"replayed survivors differ: {corpus.ids_hash(replay_ids)} != {digest}"], digest
        return [], digest

    def final_check(self) -> tuple[list[str], dict]:
        issues, digest = self.replay_check()
        return issues, {"survivor_hash": digest}

    def describe(self) -> dict:
        first = corpus.batch(self.seed, 0, BATCH)
        return {
            "batch_docs": BATCH,
            "warmup_batches": WARMUP_BATCHES,
            "replay_batches": REPLAY_BATCHES,
            "compact_summary_every": COMPACT_EVERY,
            "exact_share": corpus.EXACT_SHARE,
            "near_share": corpus.NEAR_SHARE,
            "batch0_sha256": corpus.frame_digest(first),
        }

    # ---- traced run -------------------------------------------------------

    def install_tracing(self) -> None:
        pass  # the op span and its job group cover the ingest call

    def uninstall_tracing(self) -> None:
        pass

    def traced_extras(self) -> tuple[list[str], dict, dict]:
        """The catalog probe: the ``queries`` layer, after the measured ops."""
        return CatalogProbe(self.spark, self.seed, self.work_dir, self.tracer).run()

    def side_probes(self, op: str) -> None:
        """Time the dedup operators on the next batch, outside the op.

        ``signature``: ``minhash_signature`` + ``lsh_bucket_table`` of the
        batch; ``probe``: ``near_dup_pairs_incremental`` of the batch against
        the current index. Both are forced with a noop write.
        """
        _, df = self._next
        with self.tracer.span("operators.signature", group=f"probe-{op}/signature", op=op):
            dedup.minhash_signature(df, "doc_id", "text").write.format("noop").mode("overwrite").save()
            dedup.lsh_bucket_table(df, "doc_id", "text").write.format("noop").mode("overwrite").save()
        with self.tracer.span("operators.probe", group=f"probe-{op}/probe", op=op):
            index = self.spark.read.parquet(self.index_dir)
            pairs = dedup.near_dup_pairs_incremental(df, index, "doc_id", "text")
            pairs.write.format("noop").mode("overwrite").save()

    def layer_metrics(self, ops: list, groups: dict):
        walls = [o.wall for o in ops]
        compaction = [o.wall for o in ops if (WARMUP_BATCHES + o.index) % COMPACT_EVERY == 0]
        early, late = quarter_medians(walls)
        index_rows = read_parts(self.index_dir, ["doc_id"]).num_rows
        survivors = read_parts(self.surv_dir, ["doc_id"]).num_rows
        docs = (WARMUP_BATCHES + len(ops)) * BATCH
        return {
            "streaming.batch_early_s": (early, "s"),
            "streaming.batch_late_s": (late, "s"),
            "streaming.compact_batch_s": (median(compaction), "s"),
            "streaming.index_rows": (float(index_rows), "count"),
            "streaming.survivor_ratio": (survivors / docs, "ratio"),
            "operators.signature_s": (median([s.seconds for s in self.tracer.named("operators.signature")]), "s"),
            "operators.probe_s": (median([s.seconds for s in self.tracer.named("operators.probe")]), "s"),
        }, {
            "streaming.survivor_ratio": {"survivors": survivors, "docs_ingested": docs},
            "streaming.compact_batch_s": {"compaction_ops": len(compaction)},
        }
