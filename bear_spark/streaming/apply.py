"""CDCApplier — the streaming ingest pipeline.

``readStream`` tails the changelog directory in micro-batches
(``maxFilesPerTrigger``), and ``foreachBatch`` applies each batch to the
lake table via MERGE. Exactly-once comes from TWO cooperating layers:

1. Spark's streaming checkpoint (which files each epoch consumed) —
   at-least-once delivery on restart.
2. The table's embedded commit log keyed by (source_partition, offset)
   — already-applied rows are fenced inside ``LakeTable.merge`` before
   any write, and offsets advance in the same atomic snapshot swap as
   the data. Replayed epochs after a crash between "batch applied" and
   "checkpoint written" are therefore harmless.

Reference analog: the crawl→stage→ingest loop with delete-after-ingest
offset commit (reference: bear/crawler.py:124-177, bear/ingest.py:12-27,
25-27) — which is only at-least-once with idempotence masking; this
upgrades it to true exactly-once.

Per-batch lineage metrics (rows in, dedup drops, late events, buckets
touched) land in the table snapshot's lineage tail AND in a metrics
parquet table for SQL access (the north rule's per-partition
lineage/metrics tables).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bear_spark.lake import LakeTable
from bear_spark.lake.table import ConcurrentCommit
from bear_spark.sources.changelog import read_changelog_stream


class CDCApplier:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        changelog_dir: str,
        checkpoint_dir: str,
        metrics_dir: str | None = None,
        max_files_per_trigger: int = 4,
        compact_every: int = 0,
        metrics_flush_every: int = 8,
        split_rows_per_bucket: int = 0,
        split_step_buckets: int = 4,
        merge_retries: int = 3,
        refresh_index_every: int = 0,
        index_names: list[str] | None = None,
        event_schema=None,
    ):
        self.spark = spark
        self.table = table
        self.changelog_dir = changelog_dir
        self.checkpoint_dir = checkpoint_dir
        self.metrics_dir = metrics_dir or os.path.join(checkpoint_dir, "..", "metrics")
        self.max_files_per_trigger = max_files_per_trigger
        # bound small-file accumulation on long streams: every N applied
        # (non-skipped) batches, rewrite each bucket into one file and
        # vacuum superseded staging dirs. 0 disables.
        self.compact_every = compact_every
        self._applied_since_compact = 0
        # auto-growth: after each applied batch, continue/start an
        # incremental bucket split when mean live rows per bucket exceed
        # the budget (see LakeTable.maybe_split) — at most
        # split_step_buckets old buckets per micro-batch, so a 10^10-row
        # stream grows its bucket count online without ever paying a
        # monolithic rewrite or stalling a batch. 0 disables.
        self.split_rows_per_bucket = int(split_rows_per_bucket)
        self.split_step_buckets = max(1, int(split_step_buckets))
        self.batch_metrics: list[dict] = []
        # metrics are buffered and flushed every N batches (and at
        # stream end): one small parquet file per N micro-batches
        # instead of a 1-row Spark job + file per batch. Durability is
        # best-effort by design — the authoritative lineage already
        # rides the table snapshot's lineage tail, committed atomically
        # with each merge; this table is the SQL-queryable projection.
        self.metrics_flush_every = max(1, int(metrics_flush_every))
        self._unflushed: list[dict] = []
        self._flush_seq = 0
        # A side maintenance job (compact / split / tombstone expiry run
        # from another process) racing a micro-batch loses or wins the
        # optimistic snapshot swap; when the STREAM loses, the batch was
        # never committed, so re-running merge against the advanced
        # snapshot is safe (the exactly-once fence re-checks offsets) —
        # a bounded retry keeps one maintenance race from killing a
        # 10^10-event stream. Bounded so a genuinely stuck writer war
        # still surfaces.
        self.merge_retries = max(0, int(merge_retries))
        # index-follows-table: every N applied batches, catch each
        # persisted ANN index up to the table head via the INCREMENTAL
        # change-feed refresh (lake/vector_index.py) — O(changed rows +
        # affected lists), the same cost class as the merges it follows,
        # so a streaming table keeps its index queryable without manual
        # rebuilds. index_names=None refreshes every index on the
        # table. 0 disables. When compaction fires, indexes are
        # refreshed FIRST regardless of cadence: vacuum() reclaims
        # superseded files that the change feed's lower bound may still
        # need, so consuming the feed before reclamation keeps the
        # incremental path (not the rebuild fallback) hot.
        self.refresh_index_every = max(0, int(refresh_index_every))
        self.index_names = list(index_names) if index_names else None
        self._applied_since_index_refresh = 0
        self.index_refreshes = 0
        # the changelog's event schema (None -> the transcript CDC
        # envelope); lets the same applier drive any lake table
        self.event_schema = event_schema

    _METRIC_COLS = (
        "epoch_id",
        "version",
        "skipped",
        "rows_in",
        "rows_after_fence",
        "late_events",
        "rows_written",
        "tombstones",
        "dedup_drops",
        "buckets_touched",
        "max_key_rows",
        "buckets_split",
        "merge_retries",
        "indexes_refreshed",
    )

    # -- foreachBatch body -------------------------------------------------
    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        attempts = 0
        while True:
            try:
                m = self.table.merge(batch)
                break
            except ConcurrentCommit:
                attempts += 1
                if attempts > self.merge_retries:
                    raise
        if attempts:
            m["merge_retries"] = attempts
        m["epoch_id"] = epoch_id
        m["buckets_split"] = 0
        # buffer BEFORE maintenance: the merge is already durable (commit
        # log fences its epoch), so if compact/split/vacuum raises below,
        # the applied batch's row must survive — a replay after restart is
        # fenced to {skipped} and would otherwise permanently shadow it.
        # The dict is buffered by reference, so the buckets_split update
        # below lands on the row before any flush can write it.
        self.batch_metrics.append(m)
        self._unflushed.append(m)
        if not m.get("skipped"):
            try:
                if self.split_rows_per_bucket:
                    s = self.table.maybe_split(
                        self.split_rows_per_bucket,
                        max_buckets=self.split_step_buckets,
                    )
                    if s:
                        m["buckets_split"] = s["buckets_split"]
                self._applied_since_compact += 1
                self._applied_since_index_refresh += 1
                compacting = (
                    self.compact_every
                    and self._applied_since_compact >= self.compact_every
                )
                if self.refresh_index_every and (
                    compacting
                    or self._applied_since_index_refresh >= self.refresh_index_every
                ):
                    m["indexes_refreshed"] = self._refresh_indexes()
                    self._applied_since_index_refresh = 0
                if compacting:
                    self.table.compact()
                    self.table.vacuum()
                    self._applied_since_compact = 0
            except BaseException:
                # make the merge row durable before the stream dies —
                # best-effort: if the flush itself fails (e.g. the same
                # disk fault that broke compact), the ORIGINAL maintenance
                # exception must still propagate, not the flush's
                try:
                    self._flush_metrics()
                except Exception:
                    pass
                raise
        if len(self._unflushed) >= self.metrics_flush_every:
            self._flush_metrics()

    def _refresh_indexes(self) -> int:
        """Catch every configured vector index up to the table head.
        Returns the number of indexes refreshed (a lineage scalar)."""
        names = (
            self.index_names
            if self.index_names is not None
            else self.table.vector_index_names()
        )
        n = 0
        for name in names:
            self.table.vector_index(name).refresh()
            n += 1
        self.index_refreshes += n
        return n

    def _flush_metrics(self) -> None:
        """Driver-side parquet append of the buffered metric rows — a
        handful of scalars per micro-batch never justifies a Spark job."""
        if not self._unflushed:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = self._unflushed
        self._unflushed = []
        tbl = pa.table(
            {
                c: pa.array(
                    [r.get(c) for r in rows],
                    type=pa.bool_() if c == "skipped" else pa.int64(),
                )
                for c in self._METRIC_COLS
            }
        )
        os.makedirs(self.metrics_dir, exist_ok=True)
        if self._flush_seq == 0:
            # a resumed applier appends after prior runs' flush files;
            # stale dot-hidden temp files from a crashed flush are swept
            for f in os.listdir(self.metrics_dir):
                if f.startswith(".") and ".inprogress" in f:
                    try:
                        os.remove(os.path.join(self.metrics_dir, f))
                    except OSError:
                        pass
            self._flush_seq = sum(
                1
                for f in os.listdir(self.metrics_dir)
                if f.endswith(".parquet") and not f.startswith(".")
            )
        path = os.path.join(self.metrics_dir, f"metrics_{self._flush_seq:06d}.parquet")
        self._flush_seq += 1
        # dot-prefixed temp: parquet directory readers (metrics_table()
        # = spark.read.parquet) ignore hidden files, so a concurrent or
        # crashed flush never breaks the read
        tmp = os.path.join(
            self.metrics_dir, f".metrics_{self._flush_seq - 1:06d}.inprogress"
        )
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)

    # -- run ----------------------------------------------------------------
    def run_available(self) -> list[dict]:
        """Drain everything currently in the changelog (bounded replay:
        ``trigger(availableNow=True)``), then stop. Resumable: rerunning
        continues from the streaming checkpoint, and the table commit
        log fences anything redelivered."""
        kw = {} if self.event_schema is None else {"schema": self.event_schema}
        stream = read_changelog_stream(
            self.spark, self.changelog_dir, self.max_files_per_trigger, **kw
        )
        q = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        self._flush_metrics()
        return self.batch_metrics

    def metrics_table(self) -> DataFrame:
        # mergeSchema: metric columns are append-only across releases, so
        # a resumed stream's dir can hold files with older column sets
        return self.spark.read.option("mergeSchema", "true").parquet(self.metrics_dir)
