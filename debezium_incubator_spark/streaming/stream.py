"""Structured Streaming wrapper around the batch apply core.

The reference's processors are while-loops around a batch ``process()``
(AbstractProcessor.java:50-63); the commit-log processor replays files
then watches the directory for new ones (CommitLogProcessor.java:75-94,
AbstractDirectoryWatcher.java:40-53). Our equivalent: a file-source
``readStream`` over the changelog parquet directory with ``foreachBatch``
delegating to the SAME exactly-once epoch core (CDCEngine.apply_epoch) —
the batch path is the unit of correctness, streaming is the driver loop.

``maxFilesPerTrigger`` plays the role of max.batch.size backpressure
(BlockingEventQueue.java:29-59); Spark's own checkpointLocation tracks
which files were seen, while the engine checkpoint keeps the per-bucket
offset lineage — a duplicate delivery from either layer is absorbed by
the D1 filter + idempotent epoch commit.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from debezium_incubator_spark.operators import merge
from debezium_incubator_spark.operators.envelope import changelog_schema
from debezium_incubator_spark.plans.pipeline import CDCEngine


class OutOfOrderDeliveryError(RuntimeError):
    """A micro-batch mixed never-applied offsets at-or-below the
    checkpointed stream position with new ones: the file source delivered
    changelog files out of offset order. Applying it would let the D1
    high-water-mark filter silently DROP the low offsets (they look like
    replays) — data loss, not duplicate absorption. Re-deliver in order
    or drive the offset-sliced batch path (CDCEngine.run)."""


class StreamingCDC:
    def __init__(
        self,
        engine: CDCEngine,
        changelog_dir: str,
        stream_checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        payload_fields: list[tuple[str, str]] | None = None,
    ):
        self.engine = engine
        self.changelog_dir = changelog_dir
        self.stream_checkpoint_dir = stream_checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.schema = changelog_schema(payload_fields)
        # loop-carried checkpoint across triggers: with
        # checkpoint_interval > 1 a heartbeat-advanced stream_pos lives
        # only in memory between persisted checkpoints — re-reading
        # store.latest() every micro-batch would regress it (same carry
        # the batch loop and the multi-table orchestrator do)
        self._ckpt: dict | None = None

    def _apply_batch(self, batch_df, epoch_id: int) -> None:
        # RECONCILED position: after a crash between commit and
        # checkpoint the manifest chain is ahead of the checkpoint file —
        # reading store.latest() raw would regress stream_pos on the next
        # heartbeat/batch and re-scan an already-applied range. The
        # carried ckpt (which may be AHEAD of the persisted file) wins;
        # _reconcile folds it forward if the table advanced elsewhere.
        eng = self.engine
        ckpt = eng._reconcile(self._ckpt or eng.store.latest())
        if self._ckpt is not None:
            # heartbeat epochs inflate the carried epoch WITHOUT table
            # commits, so _reconcile cannot fold past them — if another
            # driver moved the PERSISTED position further, disk wins
            disk = eng._reconcile(eng.store.latest())
            if int(disk.get("stream_pos", -1)) > int(ckpt.get("stream_pos", -1)):
                ckpt = disk
        last = int(ckpt.get("stream_pos", -1))
        # ONE stats action per micro-batch: a grouped collect over the
        # raw batch returns, per non-empty bucket, the raw offset bounds
        # (out-of-order check, stream_pos — over the UNFILTERED batch)
        # AND the merge's stats restricted to the rows the prefilter and
        # replay guard keep, which apply_epoch takes as prefetched stats
        # instead of scanning the batch again
        rows = merge.batch_stats_rows(
            eng.table.with_bucket(batch_df), eng.key_cols, "offset",
            keep=eng.keep_predicate(ckpt),
        )
        pos = last
        if rows:
            lo = min(int(r["raw_lo"]) for r in rows)
            top = max(int(r["raw_hi"]) for r in rows)
            if lo <= last < top:
                # mixed batch: offsets at-or-below the checkpointed
                # position arriving TOGETHER with new ones. A whole-batch
                # redelivery after restart has top <= last (absorbed
                # below); a mix means the file source's delivery order is
                # not offset order.
                raise OutOfOrderDeliveryError(
                    f"batch spans checkpointed stream_pos={last}: offsets [{lo}, {top}]"
                )
            # top <= last → byte-identical redelivery: the replay guard
            # kept no row, so apply_epoch commits nothing; top > last →
            # forward progress, even when every row was prefiltered out
            pos = max(top, last)
        # an empty batch is a K5 heartbeat, as in the batch loop: the
        # epoch/checkpoint still advances (no table commit)
        self._ckpt = eng.apply_epoch(
            batch_df, stream_pos=pos, ckpt=ckpt,
            stats_rows=[r for r in rows if r["n"] > 0],
        )

    def start(
        self,
        spark: SparkSession,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Start the stream. ``available_now=True`` drains the current
        directory contents and stops (the batch-campaign mode);
        ``processing_time="5 seconds"`` instead watches the directory
        INDEFINITELY, picking up files as they land — the reference's
        continuous directory watch (AbstractDirectoryWatcher.java:40-53,
        CommitLogProcessor.java:75-94). Idle triggers heartbeat through
        the same exactly-once epoch core; stop with ``q.stop()`` or
        ``run_until(...)``."""
        if processing_time is not None and available_now:
            available_now = False
        reader = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .parquet(self.changelog_dir)
        )
        writer = (
            reader.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.stream_checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_until_caught_up(self, spark: SparkSession, timeout_s: float = 300.0) -> None:
        q = self.start(spark, available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()

    def run_until(
        self,
        spark: SparkSession,
        stop_condition,
        processing_time: str = "1 seconds",
        timeout_s: float = 300.0,
        poll_s: float = 0.5,
    ) -> None:
        """Drive the continuous trigger until ``stop_condition(engine)``
        returns True (or the timeout lapses), then stop the query — the
        testable form of an otherwise indefinite watch."""
        import time

        q = self.start(spark, processing_time=processing_time)
        deadline = time.monotonic() + timeout_s
        try:
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                if stop_condition(self.engine):
                    return
                time.sleep(poll_s)
            raise TimeoutError(f"stop_condition not met within {timeout_s}s")
        finally:
            q.stop()
