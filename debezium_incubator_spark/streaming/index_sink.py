"""Structured Streaming maintenance of the durable training-data
indexes: readStream over the changelog directory → foreachBatch →
``apply_changes`` — the continuous form of jobs/dedup_index_job.py and
jobs/ann_index_job.py (same consumers, Spark's directory watch instead
of the offset-sliced driver loop; ≙ the reference's
AbstractDirectoryWatcher.java:40-53 shape, like `stream.StreamingCDC`).

Exactly-once WITHOUT trusting the stream checkpoint: the index manifest
carries ``stream_pos`` (consumed-through offset) on the same
commit-then-pointer swing as the state mutation. A micro-batch wholly
at-or-below that position is a redelivery (crash between manifest
commit and stream checkpoint; byte-identical by the changelog's
duplicate-offset invariant) and is skipped without touching the index —
re-applying it would LWW-collapse to a STALE image for keys the index
has since advanced. A batch that MIXES offsets at-or-below the stamp
with new ones means the file source broke offset order (a silently
filtered version of it could also be dropping never-seen history) —
that raises `stream.OutOfOrderDeliveryError`, exactly like
`StreamingCDC`: re-deliver in order or drive the offset-sliced batch
jobs, which read ranges in offset order by construction.

Documented blind spot (shared with `StreamingCDC` and the engine's D1
marks, ADVICE r4 #4): a batch WHOLLY below the stamp whose offsets were
never actually delivered — a delivery-contract violation where a whole
late segment jumps the queue without straddling the stamp — is
indistinguishable from a legitimate redelivery and is absorbed
silently. The changelog contract (segments land in offset order;
duplicate offsets are byte-identical) is what rules it out; a feed that
cannot promise ordered segment arrival should use the batch jobs.

Both indexes share the ``apply_changes(changes, extra_meta=...)`` /
``meta()`` contract, so one sink serves either; the ``prepare``
callable maps raw envelope rows to the index's change schema (the two
standard preparers below match the batch jobs' derivations exactly, so
a batch-built index can be continued by a stream and vice versa).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_incubator_spark.operators.dedup import lww_latest
from debezium_incubator_spark.operators.envelope import changelog_schema
from debezium_incubator_spark.streaming.stream import (
    OutOfOrderDeliveryError,
    start_changelog_stream,
)


def lww_document_changes(batch: DataFrame, table: str | None = None) -> DataFrame:
    """Envelope rows → (doc_id, text, op), one row per key (max_by LWW
    over offset — the skew-safe hash-agg form). Matches
    jobs/dedup_index_job.py: doc_id = xxhash64(repo, path)."""
    if table:
        batch = batch.filter(F.col("source.table") == table)
    rows = batch.select(
        "offset",
        "op",
        F.xxhash64("repo", "path").alias("doc_id"),
        F.col("after.content").alias("text"),
    )
    return lww_latest(rows, ["doc_id"], ["offset"], ["op", "text"])


def lww_embedding_changes(
    batch: DataFrame,
    dim: int = 64,
    shingle_n: int = 3,
    table: str | None = None,
) -> DataFrame:
    """Envelope rows → (vec_id, embedding, op) via the deterministic
    feature-hashed encoder. Matches jobs/ann_index_job.py."""
    from debezium_incubator_spark.functions.text import with_hashed_ngram_embedding

    if table:
        batch = batch.filter(F.col("source.table") == table)
    rows = batch.select(
        "offset",
        "op",
        F.xxhash64("repo", "path").alias("vec_id"),
        F.col("after.content").alias("__content"),
    )
    latest = lww_latest(rows, ["vec_id"], ["offset"], ["op", "__content"])
    return with_hashed_ngram_embedding(
        latest, text_col="__content", dim=dim, shingle_n=shingle_n
    ).drop("__content")


class StreamingIndexMaintenance:
    """foreachBatch sink feeding one durable index from the changelog.

    ``index`` is an `IncrementalDedupIndex` or `IVFIndex` (anything with
    ``version()``, ``meta()`` and ``apply_changes``); ``prepare`` maps a
    raw micro-batch (already cut to never-consumed offsets) to the
    index's change schema, ONE row per id, carrying ``op``.

    ``extra_meta`` rides every commit AND is validated against the
    stored manifest at start() — stamp the preparer's semantic
    parameters here (e.g. ``{"embed_dim": 32, "embed_shingle_n": 3}``
    with `lww_embedding_changes`) so a resume under different ones
    fails loudly instead of appending incompatible vectors, the same
    guard jobs/ann_index_job.py enforces (review r5-6 #2)."""

    def __init__(
        self,
        index,
        changelog_dir: str,
        stream_checkpoint_dir: str,
        prepare: Callable[[DataFrame], DataFrame],
        max_files_per_trigger: int = 8,
        payload_fields: list[tuple[str, str]] | None = None,
        extra_meta: dict | None = None,
    ):
        self.index = index
        self.changelog_dir = changelog_dir
        self.stream_checkpoint_dir = stream_checkpoint_dir
        self.prepare = prepare
        self.max_files_per_trigger = max_files_per_trigger
        self.schema = changelog_schema(payload_fields)
        self.extra_meta = dict(extra_meta or {})

    def _position(self) -> int:
        if self.index.version() == 0:
            return -1
        return int(self.index.meta().get("stream_pos", -1))

    def _apply_batch(self, batch_df, epoch_id: int) -> None:
        last = self._position()
        lo, top = batch_df.agg(F.min("offset"), F.max("offset")).first()
        if top is None:
            return  # idle trigger
        lo, top = int(lo), int(top)
        if top <= last:
            return  # whole-batch redelivery: already in the index
        if lo <= last:
            # mixed batch — see module doc; silently filtering would
            # also swallow never-delivered history below the stamp
            raise OutOfOrderDeliveryError(
                f"batch spans index stream_pos={last}: offsets [{lo}, {top}]"
            )
        self.index.apply_changes(
            self.prepare(batch_df),
            extra_meta={**self.extra_meta, "stream_pos": top},
        )

    def start(
        self,
        spark: SparkSession,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """``available_now=True`` drains the directory and stops;
        ``processing_time`` watches it indefinitely (stop with
        ``q.stop()``)."""
        if self.index.version() > 0 and self.extra_meta:
            m = self.index.meta()
            for k, want in self.extra_meta.items():
                have = m.get(k)
                if have is not None and have != want:
                    raise ValueError(
                        f"index at version {self.index.version()} carries "
                        f"{k}={have!r}; this sink would write {want!r} — "
                        "mismatched preparer parameters corrupt the index"
                    )
        return start_changelog_stream(
            spark, self, self._apply_batch, available_now, processing_time
        )
