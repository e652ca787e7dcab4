"""CDCEngine — snapshot-then-stream apply loop with exactly-once commits.

The whole reference lifecycle (SURVEY.md §3) collapses into this driver
class: the four reference processor threads
(CassandraConnectorTask.java:191-228) become Spark jobs; the blocking
queue becomes micro-batch range slicing; the Kafka ack-then-mark
protocol (KafkaRecordEmitter.java:58-100) becomes commit-THEN-checkpoint
with summary-based recovery.

Exactly-once invariant: for epoch k,
  1. data commit stamps {epoch: k, batch max_offsets, counters} into the
     table manifest summary (transactional);
  2. only then is checkpoint k written (merge of checkpoint k-1 + the
     summary).
A crash between 1 and 2 is healed on restart: the table's committed
epoch is ahead of the checkpoint, so the engine rebuilds checkpoint k
from the summary and skips re-applying — a replayed epoch is a no-op
(≙ isOffsetProcessed guard, FileOffsetWriter.java:92-104; duplicate LCR
position guard, LcrEventHandler.java:53-65).
"""

from __future__ import annotations

import functools
import operator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.checkpoint import CheckpointStore
from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable
from debezium_incubator_spark.operators.dedup import filter_processed, unprocessed_predicate
from debezium_incubator_spark.operators.envelope import (
    KEY_COLS,
    fingerprint,
    normalize_content,
)
from debezium_incubator_spark.operators.filters import drop_envelope_fields, table_predicate
from debezium_incubator_spark.operators.merge import merge_upsert
from debezium_incubator_spark.sources.snapshot import snapshot_envelopes


class SnapshotPhaseError(RuntimeError):
    """Streaming into a table whose snapshot phase has not run: the first
    stream epoch would flip it to phase 'stream' and a later bootstrap()
    would skip its snapshot base for good."""


class OutOfOrderDeliveryError(RuntimeError):
    """A micro-batch mixed never-applied offsets at-or-below the
    checkpointed stream position with new ones: the file source delivered
    changelog files out of offset order. Applying it would let the D1
    high-water-mark filter silently DROP the low offsets (they look like
    replays) — data loss, not duplicate absorption. Re-deliver in order
    or drive the offset-sliced batch path (CDCEngine.run)."""


def prefilter_predicate(key_cols, include_regex, exclude_regex, exclude_system):
    """The rows an engine applies: the corrupt-event guard — a mutation
    without a full primary key is undeliverable (≙ the reference skipping
    unsupported/unparseable mutations with a warning + error counter,
    CommitLogReadHandlerImpl.java:76-136) — then the T7 table filter."""
    pred = functools.reduce(operator.and_, [F.col(k).isNotNull() for k in key_cols])
    tables = table_predicate(
        include_regex=include_regex,
        exclude_regex=exclude_regex,
        table_col=key_cols[0],
        exclude_system=exclude_system,
    )
    return pred if tables is None else pred & tables


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        checkpoint_path: str,
        key_cols: list[str] | None = None,
        payload_fields: list[tuple[str, str]] | None = None,
        num_buckets: int = 16,
        include_regex: str | None = None,
        exclude_regex: str | None = None,
        field_blacklist: list[str] | None = None,
        normalize: bool = True,
        content_field: str = "content",
        exclude_system: bool = True,
        snapshot_mode: str = "initial",  # initial | always | never
        audit_before: bool = False,
        after_set_col: str | None = None,
    ):
        self.spark = spark
        self.table_path = table_path
        self.store = CheckpointStore(checkpoint_path)
        self.key_cols = key_cols or list(KEY_COLS)
        self.payload_fields = payload_fields or [
            ("commit", "string"),
            ("lang", "string"),
            ("content", "string"),
        ]
        self.num_buckets = num_buckets
        self.include_regex = include_regex
        self.exclude_regex = exclude_regex
        self.field_blacklist = field_blacklist or []
        self.normalize = normalize
        self.content_field = content_field
        self.exclude_system = exclude_system
        # S1/S2 snapshot policy (SnapshotProcessor.java:84-93, asserted by
        # invocation counts in SnapshotProcessorTest.java:111-159):
        # INITIAL = once when no prior offset; ALWAYS = a consistent
        # re-read is applied on every bootstrap() (the re-read IS current
        # source state, so overwriting is correct); NEVER = skip straight
        # to streaming.
        if snapshot_mode not in ("initial", "always", "never"):
            raise ValueError(f"snapshot_mode must be initial|always|never, got {snapshot_mode!r}")
        self.snapshot_mode = snapshot_mode
        # before-image consistency audit (opt-in: one extra skinny join
        # per epoch) — ≙ the before/after pairs the reference emits and
        # asserts (XStreamChangeRecordEmitter.java:44-51,
        # OracleConnectorIT.java:369-456)
        self.audit_before = audit_before
        # cell set-flag channel (CellData.java:27-87 'set' sub-field,
        # CommitLogReadHandlerImpl.java:351-410): when named, envelopes
        # may carry a top-level array<string> of the payload fields the
        # event actually SET — unset fields keep the current table value
        # (null-vs-unset distinction); NULL array = full image. The
        # column is optional per epoch: batches without it merge as full
        # images exactly as before.
        self.after_set_col = after_set_col
        self._table: LakeTable | None = None
        self._nb_checked = False

    # ------------------------------------------------------------- target table
    @property
    def table(self) -> LakeTable:
        if self._table is None:
            self._table = LakeTable(self.table_path)
        return self._table

    def create_target(self) -> LakeTable:
        fields = [(k, "string") for k in self.key_cols] + list(self.payload_fields)
        if self.content_field in [n for n, _ in self.payload_fields]:
            fields.append(("content_sha256", "string"))
        schema = T.StructType(
            [T.StructField(n, T._parse_datatype_string(t), True) for n, t in fields]
        )
        self._table = LakeTable.create(
            self.table_path, schema, bucket_cols=self.key_cols, num_buckets=self.num_buckets
        )
        return self._table

    # ------------------------------------------------------------- envelope → flat
    def _payload_names(self) -> list[str]:
        fields = [f["name"] for f in self.table.current_fields()]
        return [c for c in fields if c not in self.key_cols and c != "content_sha256"]

    def _rename_history(self) -> dict[str, list[str]]:
        """{current field name: [its older names, newest first]} derived
        from the manifest's full schema history by FIELD ID. This is the
        durable schema-history store (≙ the reference's schema-history
        topic, OracleConnectorTask.java:70-76) and the only source of the
        rename mapping: the checkpoint holds none, so a replay resumed
        from any checkpoint — one written before the rename, or one
        rebuilt by ``_reconcile`` from commit summaries — routes
        pre-rename envelope fields onto the current schema.
        """
        m = self.table.manifest()
        names_by_id: dict[int, list[str]] = {}
        for sid in sorted(m["schemas"], key=int):
            for f in m["schemas"][sid]:
                seq = names_by_id.setdefault(f["id"], [])
                if not seq or seq[-1] != f["name"]:
                    seq.append(f["name"])
        out: dict[str, list[str]] = {}
        for f in self.table.current_fields(m):
            hist = [n for n in names_by_id.get(f["id"], []) if n != f["name"]]
            if hist:
                out[f["name"]] = list(reversed(hist))
        return out

    def _unwrap(self, events: DataFrame) -> DataFrame:
        """T3/T4/T10/T11 — envelope → apply-ready flat rows, mapping
        pre-rename envelope field names onto the current schema (hard
        part (c): replay across a rename keeps sha256 parity)."""
        after_fields = {f.name for f in events.schema["after"].dataType.fields}
        field_types = {f["name"]: f["type"] for f in self.table.current_fields()}
        history = self._rename_history()
        cols = [F.col("offset"), F.col("op"), F.col("ts_ms")]
        cols += [F.col(k) for k in self.key_cols]
        if BUCKET_COL in events.columns:
            # bucket computed (and replay-guarded) upstream rides through
            cols.append(F.col(BUCKET_COL))
        payload = self._payload_names()
        set_col = (
            F.col(self.after_set_col)
            if self.after_set_col and self.after_set_col in events.columns
            else None
        )
        translations: list[tuple[str, str]] = []  # (source name, current name)
        for name in payload:
            # candidate source names, newest first: the current name, then
            # its older names from the manifest's field-id history
            candidates = [name, *history.get(name, [])]
            src = next((c for c in candidates if c in after_fields), None)
            if src is not None:
                cols.append(F.col(f"after.{src}").alias(name))
                if src != name:
                    translations.append((src, name))
            else:
                # column added by DDL after this envelope was written:
                # null of the TABLE's type (was hardcoded string — wrong
                # for nested list/map/struct payload columns)
                cols.append(F.lit(None).cast(field_types.get(name, "string")).alias(name))
        if set_col is not None:
            # the set list names SOURCE fields; rewrite renamed entries
            # to the current schema names so the merge's membership test
            # (array_contains against CURRENT payload names) is exact.
            # ONE transform with a chained-when = SIMULTANEOUS
            # substitution (review r5-2 #2): sequential transforms would
            # re-rewrite pass 1's output when one translation's target
            # equals another's source (rename reusing a freed name).
            if translations:
                def _translate(x):
                    expr = x
                    for old, new in translations:
                        expr = F.when(x == old, F.lit(new)).otherwise(expr)
                    return expr

                set_col = F.transform(set_col, _translate)
            cols.append(set_col.alias(self.after_set_col))
        out = events.select(*cols)
        if self.content_field in payload:
            c = F.col(self.content_field)
            if self.normalize:
                c = normalize_content(c)
            out = out.withColumn(self.content_field, c).withColumn(
                "content_sha256",
                F.when(
                    F.col(self.content_field).isNotNull(), fingerprint(F.col(self.content_field))
                ),
            )
            if set_col is not None:
                # content_sha256 is DERIVED from content: it is "set"
                # exactly when content is — otherwise a content-keeping
                # partial update would null out the stored fingerprint
                asc = F.col(self.after_set_col)
                out = out.withColumn(
                    self.after_set_col,
                    F.when(
                        asc.isNotNull() & F.array_contains(asc, self.content_field),
                        F.array_union(asc, F.array(F.lit("content_sha256"))),
                    ).otherwise(asc),
                )
        return out

    def _audit_before_images(self, events: DataFrame) -> int:
        """Count update/delete events whose BEFORE image disagrees with
        the current table state (consistency audit over the carried
        before-images, ≙ the before/after pairs the reference asserts in
        OracleConnectorIT.java:369-456).

        Only each key's EARLIEST event in the batch is checked — later
        events' pre-state is mid-batch, not table state. The check is a
        skinny join: (key, expected sha) against a bucket-pruned,
        column-pruned read of (key, content_sha256); the batch side is
        small per epoch, so it broadcasts.
        """
        if "before" not in events.columns or self.content_field not in [
            f.name for f in events.schema["before"].dataType.fields
        ]:
            return 0
        if "content_sha256" not in [f["name"] for f in self.table.current_fields()]:
            return 0
        bc = F.col(f"before.{self.content_field}")
        if self.normalize:
            bc = normalize_content(bc)
        ev = events.filter(
            F.col("op").isin("u", "d") & F.col(f"before.{self.content_field}").isNotNull()
        ).select(*self.key_cols, "offset", fingerprint(bc).alias("__exp_sha"))
        firsts = ev.groupBy(*self.key_cols).agg(
            F.min_by("__exp_sha", F.col("offset")).alias("__exp_sha")
        )
        firsts = self.table.with_bucket(firsts)
        # one small driver fetch (≤ num_buckets ints) prunes the table read
        bucket_rows = firsts.select(F.collect_set(BUCKET_COL).alias("bs")).first()
        buckets = bucket_rows["bs"] if bucket_rows and bucket_rows["bs"] else []
        if not buckets:
            return 0
        cur = self.table.read(
            self.spark, buckets=buckets, columns=[*self.key_cols, "content_sha256"]
        )
        mismatches = (
            cur.join(F.broadcast(firsts), self.key_cols)
            # null-safe: a committed NULL sha against a non-null expected
            # before-image IS a mismatch (plain != would return NULL and
            # silently drop the row)
            .filter(~F.col("content_sha256").eqNullSafe(F.col("__exp_sha")))
            .count()
        )
        return int(mismatches)

    def _prefilter_args(self) -> tuple:
        """The arguments of this engine's ``prefilter_predicate``."""
        return (tuple(self.key_cols), self.include_regex, self.exclude_regex, self.exclude_system)

    def _prefilter(self, events: DataFrame) -> DataFrame:
        ev = events.filter(prefilter_predicate(*self._prefilter_args()))
        return drop_envelope_fields(ev, self.field_blacklist)

    # ------------------------------------------------------------- epochs
    def _reconcile(self, ckpt: dict) -> dict:
        """Rebuild checkpoint state from the committed manifest chain when
        the table is ahead — a crash between commit and checkpoint, or a
        checkpoint rewound several epochs. Walks manifest parents back to
        the checkpointed epoch and folds the summaries forward; the
        result is saved (recovery is rare).

        Requires `expire_versions(keep_last >= 2)` so the parent of a
        commit whose checkpoint was lost is still on disk."""
        s = self.table.summary()
        if s.get("epoch") is None or s["epoch"] <= ckpt["epoch"]:
            return ckpt
        chain: list[tuple[dict, int]] = []
        v: int | None = self.table.version()
        while v is not None and v >= 0:
            m = self.table.manifest(v)
            sm = m.get("summary", {})
            if sm.get("epoch") is None or sm["epoch"] <= ckpt["epoch"]:
                break
            chain.append((sm, m["version"]))
            v = m.get("parent")
        new_ckpt = ckpt
        for sm, ver in reversed(chain):
            if sm["epoch"] == new_ckpt["epoch"]:
                continue  # metadata-only commit sharing the parent's epoch
            new_ckpt = self._advance(new_ckpt, sm, ver)
        new_ckpt["table_version"] = self.table.version()
        self.store.save(new_ckpt)
        return new_ckpt

    def _advance(self, ckpt: dict, summary: dict, table_version: int) -> dict:
        return {
            "epoch": summary["epoch"],
            "phase": summary.get("phase", ckpt.get("phase", "stream")),
            "table_version": table_version,
            "stream_pos": summary.get("stream_pos", ckpt.get("stream_pos", -1)),
            "max_offsets": CheckpointStore.merge_max_offsets(
                ckpt.get("max_offsets", {}), summary.get("max_offsets", {})
            ),
            "counters": CheckpointStore.merge_counters(
                ckpt.get("counters", {}), summary.get("counters", {})
            ),
        }

    def bootstrap(self, source: DataFrame) -> dict:
        """D6/S1/S2 — snapshot phase: consistent read → 'r' envelopes →
        merge as epoch → phase flips to 'stream'.

        Mode INITIAL: skipped entirely when a previous offset exists
        (OracleSnapshotChangeEventSource.java:55-69; SnapshotProcessorTest
        re-snapshot guard). Mode ALWAYS: every bootstrap() call applies a
        fresh consistent read (SnapshotProcessor ALWAYS re-emits READs —
        the re-read is current source state, so it may overwrite). Mode
        NEVER: flip to streaming without reading the source."""
        ckpt = self._reconcile(self.store.latest())
        if self.snapshot_mode == "never":
            if ckpt["phase"] == "snapshot":
                ckpt = dict(ckpt, phase="stream")
                self.store.save(ckpt)
            return ckpt
        if self.snapshot_mode == "initial" and ckpt["phase"] != "snapshot":
            return ckpt
        payload = self._payload_names()
        env = snapshot_envelopes(source, payload_fields=payload)
        return self.apply_epoch(env, snapshot=True)

    def _checked_num_buckets(self) -> int:
        nb = self.table.manifest()["num_buckets"]
        if not self._nb_checked:
            if nb != self.num_buckets:
                raise ValueError(
                    f"num_buckets mismatch: engine configured {self.num_buckets}, "
                    f"table manifest has {nb}"
                )
            self._nb_checked = True
        return nb

    def _guarded_pre(self, events: DataFrame, ckpt: dict) -> DataFrame:
        """Prefilter → bucket → replay guard: the epoch frame BOTH the
        stats pass and the apply path are derived from."""
        pre = self.table.with_bucket(self._prefilter(events))
        nb = self._checked_num_buckets()
        return filter_processed(pre, ckpt.get("max_offsets", {}), num_buckets=nb)

    def keep_predicate(self, ckpt: dict):
        """The rows of a bucketed RAW batch that ``_guarded_pre`` keeps,
        as one Column (prefilter AND replay guard) — lets a driver fold
        the merge's stats into a pass over the raw batch."""
        guard = unprocessed_predicate(
            ckpt.get("max_offsets", {}), num_buckets=self._checked_num_buckets()
        )
        pred = prefilter_predicate(*self._prefilter_args())
        return pred if guard is None else pred & guard

    def resume(self) -> dict:
        """The checkpoint the next stream epoch starts from: the persisted
        one (every epoch saves its own), folded forward by ``_reconcile``
        when the table committed past it. Raises SnapshotPhaseError
        before bootstrap()."""
        ckpt = self._reconcile(self.store.latest())
        if ckpt["phase"] == "snapshot":
            raise SnapshotPhaseError(f"{self.table_path}: bootstrap() must run before streaming")
        return ckpt

    def apply_micro_batch(self, batch: DataFrame, stats_rows: list, top: int, ckpt: dict) -> dict:
        """Apply one streamed micro-batch from its grouped stats collect.

        ``stats_rows``: this table's rows of a ``batch_stats_rows(...,
        keep=keep_predicate(ckpt))`` collect over the raw batch — per
        bucket the raw offset bounds and the merge stats of the kept
        rows; none when the batch holds no row of this table. ``top``:
        the whole batch's highest raw offset (-1 when empty). ``ckpt``:
        from ``resume()``.

        A batch whose offsets span the checkpointed stream_pos means the
        file source delivered out of offset order (raise); a whole-batch
        redelivery sits at-or-below it and the replay guard absorbs it.

        An idle table's epoch is a K5 heartbeat to ``top``: no table
        commit, no Spark job. A table that has never streamed never
        moves its stream_pos off -1 while idle — it is owed a
        full-history replay, which a heartbeat past -1 would skip — so
        it runs no epoch at all unless ``top`` is -1 too (an empty
        stream batch heartbeats in place)."""
        last = int(ckpt.get("stream_pos", -1))
        if stats_rows:
            lo = min(int(r["raw_lo"]) for r in stats_rows)
            hi = max(int(r["raw_hi"]) for r in stats_rows)
            if lo <= last < hi:
                raise OutOfOrderDeliveryError(
                    f"{self.table_path}: batch spans checkpointed stream_pos={last}: "
                    f"offsets [{lo}, {hi}]"
                )
        elif last < 0 <= top:
            return ckpt
        return self.apply_epoch(
            batch, stream_pos=max(top, last), ckpt=ckpt,
            stats_rows=[r for r in stats_rows if r["n"] > 0],
        )

    def slice_stats(self, events: DataFrame, ckpt: dict) -> list:
        """Collect the merge's per-bucket batch stats for a slice WITHOUT
        unwrapping the envelope (row-identical: the unwrap is a pure
        projection). Used by run() to prefetch the next slice's stats
        concurrently with the current epoch's write — sound because
        forward slices are offset-disjoint, so the replay guard drops
        nothing under either epoch's marks."""
        from debezium_incubator_spark.operators.merge import batch_stats_rows, key_bytes

        pre = self._guarded_pre(events, ckpt)
        return batch_stats_rows(pre, key_bytes(self.key_cols), "offset")

    def apply_epoch(
        self,
        events: DataFrame,
        stream_pos: int | None = None,
        ckpt: dict | None = None,
        snapshot: bool = False,
        stats_rows: list | None = None,
    ) -> dict:
        """Apply one micro-batch exactly once; saves and returns the new
        checkpoint state (K2 'always': one checkpoint per epoch,
        OffsetFlushPolicy.java:19-52).

        ``snapshot``: the batch is a consistent snapshot read — its keys
        are unique (no LWW shuffle) and its rows carry no log position,
        so the D1 offset guard must not see them."""
        if ckpt is None:
            ckpt = self._reconcile(self.store.latest())
        target_epoch = ckpt["epoch"] + 1
        if self.table.summary().get("epoch", -1) >= target_epoch:
            # already committed (crash between commit and checkpoint)
            return self._reconcile(ckpt)

        if snapshot:
            pre = self.table.with_bucket(self._prefilter(events))
        else:
            # replay guard ONCE, before the envelope is unwrapped (the
            # global-min fast path inside filter_processed is validated
            # against the table's own bucket count in _guarded_pre):
            # both the before-image audit and the apply path consume the
            # same guarded frame (the audit used to build its own second
            # guarded scan per epoch)
            pre = self._guarded_pre(events, ckpt)
        audit_counters = None
        known_empty = stats_rows is not None and len(stats_rows) == 0
        if (
            self.audit_before
            and not snapshot
            and not known_empty  # K5 zero-job heartbeat: the caller has
            # already proven the batch holds no rows for this table (the
            # orchestrator's single stats pass) — the audit's two Spark
            # actions on an empty frame would be pure per-table driver
            # cost at 50+ mostly-idle tables (VERDICT r4 #6)
            and "before" in pre.columns
        ):
            # audit AFTER the replay guard: a redelivered micro-batch's
            # events would otherwise be compared against the table state
            # that already includes them — spurious mismatches on a
            # perfectly consistent stream
            audit_counters = {"before_image_mismatch": self._audit_before_images(pre)}
        flat = self._unwrap(pre)

        summary: dict[str, Any] = {"epoch": target_epoch, "phase": "stream"}
        if stream_pos is not None:
            summary["stream_pos"] = stream_pos

        version, stats = merge_upsert(
            self.table,
            flat,
            key_cols=self.key_cols,
            order_cols=["offset", "op"],
            summary=summary,
            assume_unique_keys=snapshot,
            extra_counters=audit_counters,
            stats_rows=stats_rows,
            trust_bucket_col=True,  # computed via this table's with_bucket above
            after_set_col=(
                self.after_set_col
                if self.after_set_col and self.after_set_col in flat.columns
                else None
            ),
        )
        if not stats["max_offsets"] and stats["counters"].get("events_in", 0) == 0:
            # K5 heartbeat: empty batch still advances the epoch/offsets
            summary["max_offsets"] = {}
            summary["counters"] = {"events_in": 0}
        else:
            summary["max_offsets"] = stats["max_offsets"]
            summary["counters"] = stats["counters"]
        new_ckpt = self._advance(ckpt, summary, version)
        self.store.save(new_ckpt)
        return new_ckpt

    def run(
        self,
        changelog,
        offsets_per_epoch: int = 400_000,
        max_epochs: int | None = None,
    ):
        """Stream loop: slice the changelog into offset ranges (D5 batch
        sizing ≙ max.batch.size drain, BlockingEventQueue.java:44-59) and
        apply each as an epoch. Resumable from any checkpoint.

        Each epoch costs two serial Spark actions — the per-bucket stats
        collect and the CoW write — whose constant driver share (plan +
        codegen + submit, ~2.5 s/epoch measured) caps N→4N scaling at
        small epochs (BENCH.md). The NEXT slice's stats job runs on a
        background thread concurrently with the current epoch's write,
        hiding one of the two actions: sound because forward slices are
        offset-disjoint, so the replay guard passes every row under
        either epoch's marks (the prefetched stats are row-identical to
        what the merge would collect). The first epoch after a restart
        never uses a prefetch (its slice may genuinely overlap the
        marks). Starts from ``resume()``."""
        from concurrent.futures import ThreadPoolExecutor

        top = changelog.max_offset(self.spark)
        applied = []
        n = 0
        ckpt = self.resume()
        pool = ThreadPoolExecutor(max_workers=1)
        pending = None  # (end_exclusive_start, end, Future[stats_rows])
        try:
            while True:
                start = int(ckpt.get("stream_pos", -1))
                if start >= top or (max_epochs is not None and n >= max_epochs):
                    break
                end = min(start + offsets_per_epoch, top)
                batch = changelog.range(self.spark, start, end)
                stats = None
                if pending is not None:
                    p_start, p_end, fut = pending
                    pending = None
                    if (p_start, p_end) == (start, end):
                        stats = fut.result()
                    else:
                        fut.result()  # settle; slice moved (shouldn't happen)
                will_continue = end < top and (max_epochs is None or n + 1 < max_epochs)
                if will_continue:
                    nxt_end = min(end + offsets_per_epoch, top)
                    nxt = changelog.range(self.spark, end, nxt_end)
                    pending = (end, nxt_end, pool.submit(self.slice_stats, nxt, ckpt))
                ckpt = self.apply_epoch(batch, stream_pos=end, ckpt=ckpt, stats_rows=stats)
                applied.append(ckpt)
                n += 1
        finally:
            # ADVICE r4: cancel() can't stop an already-RUNNING prefetch,
            # and shutdown(wait=False) would let that live Spark scan
            # outlive run() — a subsequent DROP TABLE rmtree or
            # store.reset() then races a scan over deleted files. Wait it
            # out (bounded: a stats collect is one small aggregate).
            if pending is not None:
                pending[2].cancel()
            pool.shutdown(wait=True, cancel_futures=True)
        return applied

    # ------------------------------------------------------------- DDL (S7)
    def apply_ddl_events(self, ddl_rows: list[dict]) -> int:
        """S7 — schema-change events from a control stream, applied in
        order before the next data epoch (≙ DDL LCR → parse → apply,
        LcrEventHandler.java:107-118, OracleSchemaChangeEventEmitter
        :42-80: CREATE/ADD fully applied; unsupported actions warned and
        skipped, matching the reference's ALTER/DROP warning behavior).

        Row shape: {"action": "add_column"|"rename_column"|"drop_column"|
                    "modify_column"|"create_table"|"drop_table",
                    "name": ..., "new_name": ..., "dtype": ...,
                    "columns": ..., "primary_key": ...}
        Returns the number of applied events."""
        applied = 0
        for r in ddl_rows:
            action = r.get("action")
            if action == "add_column":
                self.add_column(r["name"], r.get("dtype", "string"))
            elif action == "rename_column":
                self.rename_column(r["name"], r["new_name"])
            elif action == "drop_column":
                self.table.drop_column(r["name"])
            elif action == "modify_column":
                self.table.modify_column(r["name"], r.get("dtype", "string"))
            elif action == "create_table":
                try:
                    self.provision_from_ddl(r)
                except ValueError as e:
                    # malformed CREATE (no columns, PK referencing an
                    # undeclared column): warn-and-continue like every
                    # other unhandled-DDL path — one bad statement must
                    # not abort the rest of the batch
                    import warnings

                    warnings.warn(f"CREATE TABLE {r.get('table')} skipped: {e}")
                    continue
            elif action == "drop_table":
                if not LakeTable.drop(self.table_path):
                    import warnings

                    warnings.warn(f"DROP TABLE {r.get('table')}: no table at {self.table_path}")
                    continue
                self._table = None
                # the checkpoint dies with the table: a later CREATE
                # TABLE (provision_from_ddl) in this or a later batch
                # must start from INITIAL, not inherit phase=stream and
                # the dropped table's stream_pos (which would make the
                # replay guard skip the history owed to the fresh table)
                self.store.reset()
                self._nb_checked = False
            else:
                # the reference's warn-and-continue path for unhandled DDL
                import warnings

                warnings.warn(f"unsupported DDL action skipped: {action}")
                continue
            applied += 1
        return applied

    def provision_from_ddl(self, action: dict) -> LakeTable:
        """CREATE TABLE applied end-to-end: the parsed action's columns
        become the target schema (field-id'd), its PRIMARY KEY the bucket
        columns — the one DDL the reference fully applies
        (OracleSchemaChangeEventEmitter.java:65-80). The engine's key and
        payload configuration follow the DDL so subsequent epochs apply
        into the provisioned table directly."""
        from debezium_incubator_spark.sources.ddl import schema_from_create_action

        if LakeTable.exists(self.table_path):
            import warnings

            warnings.warn(
                f"CREATE TABLE {action.get('table')}: table already provisioned at "
                f"{self.table_path}; keeping the existing schema"
            )
            return self.table
        fields, pk = schema_from_create_action(action)
        key_cols = pk or self.key_cols
        self.key_cols = key_cols
        self.payload_fields = [(n, t) for n, t in fields if n not in key_cols]
        schema_fields = [(n, t) for n, t in fields]
        if self.content_field in [n for n, _ in self.payload_fields]:
            schema_fields.append(("content_sha256", "string"))
        schema = T.StructType(
            [T.StructField(n, T._parse_datatype_string(t), True) for n, t in schema_fields]
        )
        self._table = LakeTable.create(
            self.table_path, schema, bucket_cols=key_cols, num_buckets=self.num_buckets
        )
        self._nb_checked = False
        return self._table

    def apply_ddl_statements(self, statements: list[str]) -> int:
        """S7 — raw DDL text → parsed actions → schema commits. The parse
        step is the reference's OracleDdlParser.java:44-110 /
        AlterTableParserListener.java:76-133 analog (sources/ddl.py);
        apply keeps the same order-sensitive semantics as
        apply_ddl_events."""
        from debezium_incubator_spark.sources.ddl import parse_ddl_batch

        return self.apply_ddl_events(parse_ddl_batch(statements))

    def add_column(self, name: str, dtype: str = "string") -> None:
        self.table.add_column(name, dtype)

    def rename_column(self, old: str, new: str) -> None:
        """Rename = metadata-only: the field keeps its id, so pre-rename
        envelopes keep applying through ``_rename_history``
        (≙ schema-history replay, OracleConnectorTask.java:70-76)."""
        self.table.rename_column(old, new)

    # ------------------------------------------------------------- reads / metrics
    def final_state(self, version: int | None = None) -> DataFrame:
        return self.table.read(self.spark, version=version)

    def metrics(self) -> dict:
        """M1/M2 — cumulative counters + per-bucket lineage, and the
        stream position (the lag in offsets is the source's top minus
        ``stream_pos``; exact, since every epoch saves its checkpoint)."""
        ckpt = self.store.latest()
        return {
            "epoch": ckpt["epoch"],
            "phase": ckpt["phase"],
            "stream_pos": int(ckpt.get("stream_pos", -1)),
            "counters": ckpt.get("counters", {}),
            "max_offsets": ckpt.get("max_offsets", {}),
            "table_version": ckpt.get("table_version"),
        }
