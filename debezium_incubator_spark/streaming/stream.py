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
from debezium_incubator_spark.plans.pipeline import (  # noqa: F401 — re-exported
    CDCEngine,
    OutOfOrderDeliveryError,
)


def start_changelog_stream(
    spark: SparkSession,
    source,
    apply_batch,
    available_now: bool,
    processing_time: str | None,
):
    """Start a file-source stream over ``source.changelog_dir`` (read as
    ``source.schema``, at most ``source.max_files_per_trigger`` files per
    trigger, progress in ``source.stream_checkpoint_dir``) that hands
    every micro-batch to ``apply_batch``. ``processing_time`` watches
    the directory indefinitely and wins over ``available_now``, which
    drains it and stops; with neither, Spark's default trigger runs
    micro-batches back to back."""
    writer = (
        spark.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", str(source.max_files_per_trigger))
        .parquet(source.changelog_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", source.stream_checkpoint_dir)
        .outputMode("append")
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class StreamingCDC:
    """One table fed by a file-source stream. Each micro-batch resumes
    the engine's checkpoint (``CDCEngine.resume``: the persisted one,
    never before bootstrap), runs ONE
    grouped stats collect over the raw batch, and hands its rows to
    ``CDCEngine.apply_micro_batch`` — the same per-table step the
    multi-table orchestrator uses."""

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

    def _apply_batch(self, batch_df, epoch_id: int) -> None:
        eng = self.engine
        ckpt = eng.resume()
        # ONE stats action per micro-batch: per non-empty bucket the raw
        # offset bounds (out-of-order check, stream_pos — over the
        # UNFILTERED batch) AND the merge's stats restricted to the rows
        # the prefilter and replay guard keep, which apply_epoch takes as
        # prefetched stats instead of scanning the batch again
        rows = merge.batch_stats_rows(
            eng.table.with_bucket(batch_df), merge.key_bytes(eng.key_cols), "offset",
            keep=eng.keep_predicate(ckpt),
        )
        top = max((int(r["raw_hi"]) for r in rows), default=-1)
        eng.apply_micro_batch(batch_df, rows, top, ckpt)

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
        return start_changelog_stream(
            spark, self, self._apply_batch, available_now, processing_time
        )

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
