"""Multi-table CDC orchestration: one changelog, N independent tables.

The reference agent captures ALL CDC-enabled tables: the snapshot
processor loops over the table set (SnapshotProcessor.java:132-137), the
offset writer keeps per-table positions (FileOffsetWriter.java:75-118),
and the schema cache is per-table (SchemaHolder.java:25-52). Here each
table gets its own CDCEngine (own LakeTable, own CheckpointStore) under
one root directory, and a JSON registry makes the table set itself
restart-durable.

Scale shape: the shared changelog carries ``source.table``; each table's
epoch slice filters on it, a predicate Catalyst pushes into the parquet
scan (column-chunk dictionary/stats pruning — at 100 TB a table touching
1% of events reads ~1% of the pages). Tables are fully independent —
per-table offsets, per-table exactly-once, per-table counters — so a
scheduler can drive them concurrently on a cluster; this driver loops
them sequentially (the reference's single agent thread does too).

A mid-stream ``CREATE TABLE`` DDL provisions a new table + engine from
the parsed column list (the one DDL path the reference fully applies,
OracleSchemaChangeEventEmitter.java:65-80); ``DROP TABLE`` tears the
table down and deregisters it.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_incubator_spark.lake.checkpoint import _atomic_write
from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable, bucket_expr
from debezium_incubator_spark.operators import merge
from debezium_incubator_spark.operators.dedup import unprocessed_by_table_predicate
from debezium_incubator_spark.plans.pipeline import (
    CDCEngine,
    SnapshotPhaseError,
    prefilter_predicate,
)
from debezium_incubator_spark.sources.gc import expire_changelog_files, read_gc_state
from debezium_incubator_spark.streaming.stream import StreamingCDC

# the fewest table versions maintain() keeps: CDCEngine._reconcile must be
# able to read the parent of a commit whose checkpoint was lost
RECOVERY_KEEP_LAST = 2

# the envelope field that routes a shared changelog's rows to their table
TABLE_FIELD = "source.table"


class TableSlice:
    """A per-table view over a shared changelog: same offsets, rows
    filtered to one ``source.table``. The filter rides into the scan
    (nested-field predicate pushdown), so each table's epoch reads only
    its pages."""

    def __init__(self, inner, table: str):
        self.inner = inner
        self.table = table

    def max_offset(self, spark: SparkSession, **kw) -> int:
        return self.inner.max_offset(spark, **kw)

    def range(self, spark: SparkSession, start_exclusive: int, end_inclusive: int) -> DataFrame:
        df = self.inner.range(spark, start_exclusive, end_inclusive)
        return df.filter(F.col(TABLE_FIELD) == F.lit(self.table))


# offsets per epoch of a heal replay (StreamingMultiTableCDC)
CATCHUP_OFFSETS_PER_EPOCH = 1_000_000


class _CappedChangelog:
    """A changelog view bounded at a known-delivered watermark: the heal
    of a table that joins the running stream must replay exactly what
    the stream already consumed (≤ watermark) — offsets beyond it
    arrive from the stream normally."""

    def __init__(self, inner, cap: int):
        self.inner = inner
        self.cap = int(cap)

    def max_offset(self, spark: SparkSession, **kw) -> int:
        return min(self.inner.max_offset(spark, **kw), self.cap)

    def range(self, spark: SparkSession, start_exclusive: int, end_inclusive: int) -> DataFrame:
        # self-enforcing: the bound must hold even for a caller that
        # does not derive its ranges from max_offset()
        return self.inner.range(spark, start_exclusive, min(end_inclusive, self.cap))


class MultiTableCDC:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_parallel_tables: int = 8,
        **engine_defaults: Any,
    ):
        """``root`` holds everything: ``tables/<name>`` (LakeTables),
        ``ckpt/<name>`` (checkpoints), ``_registry.json`` (the durable
        table set ≙ the reference's CDC-enabled-table config). Engines
        for registered tables are reconstructed on restart.

        ``max_parallel_tables`` drives per-table work through a driver
        thread pool (≙ the reference's processor thread pool,
        CassandraConnectorTask.java:191-228): Spark schedules concurrent
        jobs natively, each engine owns disjoint state (own LakeTable,
        own CheckpointStore), and the shared batch is persisted before
        the fan-out — so N tables no longer serialize N mostly-idle
        merge jobs per trigger. 1 = sequential."""
        self.spark = spark
        self.root = root
        self.max_parallel_tables = max(1, int(max_parallel_tables))
        self.engine_defaults = engine_defaults
        self.engines: dict[str, CDCEngine] = {}
        os.makedirs(root, exist_ok=True)
        for name, cfg in self._registry().items():
            self.engines[name] = self._mk_engine(name, cfg)

    # ------------------------------------------------------------- registry
    def _registry_path(self) -> str:
        return os.path.join(self.root, "_registry.json")

    def _registry(self) -> dict[str, dict]:
        try:
            with open(self._registry_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _save_registry(self, reg: dict[str, dict]) -> None:
        _atomic_write(self._registry_path(), json.dumps(reg, indent=1))

    def _mk_engine(self, name: str, cfg: dict) -> CDCEngine:
        kwargs = dict(self.engine_defaults)
        kwargs.update({k: v for k, v in cfg.items() if k not in ("payload_fields",)})
        if cfg.get("payload_fields"):
            kwargs["payload_fields"] = [tuple(x) for x in cfg["payload_fields"]]
        return CDCEngine(
            self.spark,
            os.path.join(self.root, "tables", name),
            os.path.join(self.root, "ckpt", name),
            **kwargs,
        )

    # ------------------------------------------------------------- table set
    def create_table(
        self,
        name: str,
        key_cols: list[str] | None = None,
        payload_fields: list[tuple[str, str]] | None = None,
        ddl_action: dict | None = None,
        **overrides: Any,
    ) -> CDCEngine:
        """Register + provision one table (idempotent on re-register).
        With ``ddl_action`` the typed schema + PK come from the parsed
        CREATE TABLE; such a table joins mid-stream without a snapshot
        source, so it skips straight to streaming (snapshot_mode=never)
        at stream_pos=-1 and is owed the whole changelog history, like
        any table that never streamed (``run()`` replays it;
        ``StreamingMultiTableCDC`` heals it up to the delivered
        watermark and streams the rest)."""
        if name in self.engines:
            return self.engines[name]
        cfg: dict[str, Any] = dict(overrides)
        if key_cols:
            cfg["key_cols"] = key_cols
        if payload_fields:
            cfg["payload_fields"] = [list(x) for x in payload_fields]
        if ddl_action is not None:
            cfg["snapshot_mode"] = cfg.get("snapshot_mode", "never")
        eng = self._mk_engine(name, cfg)
        if not LakeTable.exists(eng.table_path):
            # no LakeTable ⇒ any checkpoint under ckpt/<name> is an
            # orphan (e.g. a DROP TABLE that predates checkpoint
            # clearing): a fresh table inheriting a stale stream_pos
            # would skip the changelog history it is owed. There is no
            # legitimate ckpt-without-table state (create writes VERSION
            # before the first checkpoint), so reset unconditionally.
            eng.store.reset()
            if ddl_action is not None:
                eng.provision_from_ddl(ddl_action)
                eng.bootstrap(None)  # mode=never: flip phase, no source read
            else:
                eng.create_target()
        # persist the engine's EFFECTIVE key/payload config (DDL
        # provisioning derives them from the parsed columns) so restarts
        # reconstruct an identical engine
        cfg["key_cols"] = list(eng.key_cols)
        cfg["payload_fields"] = [list(x) for x in eng.payload_fields]
        reg = self._registry()
        reg[name] = cfg
        self._save_registry(reg)
        self.engines[name] = eng
        return eng

    def drop_table(self, name: str) -> bool:
        """Storage teardown FIRST (blocking on any in-flight commit),
        deregistration after — a failed drop leaves the table registered
        and managed rather than orphaning its data directory. The
        table's checkpoint state goes with it: a later CREATE TABLE of
        the same name (a normal DDL-stream sequence) must start from
        INITIAL and replay the full changelog history, not resume past
        the dropped table's stream_pos (silent data loss)."""
        import shutil

        eng = self.engines.get(name)
        path = (
            eng.table_path if eng is not None else os.path.join(self.root, "tables", name)
        )
        dropped = LakeTable.drop(path)
        ckpt_dir = eng.store.path if eng is not None else os.path.join(self.root, "ckpt", name)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        self.engines.pop(name, None)
        reg = self._registry()
        reg.pop(name, None)
        self._save_registry(reg)
        return dropped

    def apply_ddl_statements(self, statements: list[str]) -> int:
        """Route parsed DDL by its table: CREATE TABLE provisions a new
        engine mid-stream (schema + PK from the parsed columns), DROP
        TABLE deregisters + removes, ALTER goes to the owning engine;
        DDL for unregistered tables is the warn-and-skip path."""
        from debezium_incubator_spark.sources.ddl import (
            parse_ddl_batch,
            schema_from_create_action,
        )

        applied = 0
        for action in parse_ddl_batch(statements):
            tbl = action.get("table")
            name = tbl.split(".")[-1] if tbl else None
            if name is not None and name not in self.engines:
                # Oracle folds unquoted identifiers to UPPER; our
                # changelog's source.table is the connector's (lowercase)
                # name. Resolve case-insensitively; a NEW unquoted name
                # registers lowercased so it meets the changelog field.
                ci = {k.lower(): k for k in self.engines}
                name = ci.get(name.lower(), name.lower())
            kind = action.get("action")
            if kind == "create_table":
                try:
                    schema_from_create_action(action)  # validate before registering
                except ValueError as e:
                    # warn-and-continue like every other malformed-DDL
                    # path (the reference's contract): one bad statement
                    # must not abort the rest of the batch
                    warnings.warn(f"CREATE TABLE {tbl} skipped: {e}")
                    continue
                self.create_table(name, ddl_action=action)
                applied += 1
            elif kind == "drop_table":
                if self.drop_table(name):
                    applied += 1
                else:
                    warnings.warn(f"DROP TABLE {tbl}: not registered, skipped")
            elif name in self.engines:
                applied += self.engines[name].apply_ddl_events([action])
            else:
                warnings.warn(f"DDL for unregistered table {tbl!r} skipped: {kind}")
        return applied

    # ------------------------------------------------------------- lifecycle
    def _for_each_engine(self, fn) -> dict[str, Any]:
        """Run ``fn(name, engine)`` for every registered engine — through
        the driver thread pool when ``max_parallel_tables > 1`` (Spark
        schedules concurrent jobs natively; idle executor slots from one
        table's small merge fill with another's). Engines own disjoint
        state, so results are identical to the sequential loop; the
        first exception propagates after all submitted work settles (no
        thread is abandoned mid-commit)."""
        items = list(self.engines.items())
        if self.max_parallel_tables == 1 or len(items) <= 1:
            return {name: fn(name, eng) for name, eng in items}
        from concurrent.futures import ThreadPoolExecutor

        out: dict[str, Any] = {}
        errors: list[BaseException] = []
        with ThreadPoolExecutor(
            max_workers=min(self.max_parallel_tables, len(items)),
            thread_name_prefix="cdc-table",
        ) as pool:
            futs = {pool.submit(fn, name, eng): name for name, eng in items}
            for fut, name in futs.items():
                try:
                    out[name] = fut.result()
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    errors.append(e)
        if errors:
            raise errors[0]
        return out

    def bootstrap(self, source: DataFrame, table_col: str = "src_table") -> dict[str, dict]:
        """Snapshot phase for every registered table (the reference's
        per-table snapshot loop). ``source`` carries ``table_col``
        assigning each row to a table; each engine sees only its rows.
        The shared source is persisted around the fan-out — N engines
        would otherwise run N concurrent full scans of it."""
        from pyspark import StorageLevel

        # respect a caller-managed cache: persisting over one raises
        # ("cannot change storage level") and unpersisting would evict it
        ours = not (source.storageLevel.useMemory or source.storageLevel.useDisk)
        if ours:
            source = source.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._for_each_engine(
                lambda name, eng: eng.bootstrap(
                    source.filter(F.col(table_col) == F.lit(name)).drop(table_col)
                )
            )
        finally:
            if ours:
                source.unpersist(blocking=False)

    def run(
        self,
        changelog,
        offsets_per_epoch: int = 400_000,
        max_epochs: int | None = None,
    ) -> dict[str, list[dict]]:
        """Stream every registered table from the shared changelog. Each
        table resumes from ITS OWN checkpointed position — a table added
        mid-stream starts at -1 and replays the full history into its
        fresh target (deterministic, exactly-once per table). Tables run
        concurrently per ``max_parallel_tables``."""
        return self._for_each_engine(
            lambda name, eng: eng.run(
                TableSlice(changelog, name),
                offsets_per_epoch=offsets_per_epoch,
                max_epochs=max_epochs,
            )
        )

    def apply_batch(self, batch: DataFrame) -> None:
        """Apply ONE shared micro-batch across every registered table —
        the streaming form of run(), rows routed by ``source.table``.
        Every engine resumes (``CDCEngine.resume``), ONE grouped stats
        collect covers all tables (``_batch_stats``), and each engine
        applies its rows through ``CDCEngine.apply_micro_batch`` — the
        same step StreamingCDC takes, with the batch's global top as the
        heartbeat target. The out-of-order check sees only THAT table's
        rows: positions legitimately diverge (a table caught up further
        in batch mode, or attached later), and whole-batch bounds would
        wedge the stream on another table's new offsets. Delivery
        contract (same as StreamingCDC): files arrive in GLOBAL offset
        order. An idle table runs no Spark job. Used by
        StreamingMultiTableCDC's foreachBatch."""
        from pyspark import StorageLevel

        # the stats collect and every active table's merge read the
        # batch — persist once, release after the fan-out
        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            ckpts = self._for_each_engine(lambda name, eng: eng.resume())
            stats: dict[str, list] = {}
            for r in self._batch_stats(batch, ckpts):
                stats.setdefault(r["__t"], []).append(r)
            global_top = max(
                (int(r["raw_hi"]) for rows in stats.values() for r in rows), default=-1
            )

            # one shared empty frame for the tables without rows: building
            # a filtered frame per idle table costs driver round trips
            idle = batch.filter(F.lit(False))

            def apply_one(name, eng):
                if name in ckpts:  # a table attached mid-trigger joins the next one
                    rows = stats.get(name, [])
                    eng.apply_micro_batch(
                        batch.filter(F.col(TABLE_FIELD) == F.lit(name)) if rows else idle,
                        rows, global_top, ckpts[name],
                    )

            # per-table merges overlap on the driver thread pool: the
            # persisted batch is read-shared, every engine's state is
            # disjoint, and exactly-once is per-table (commit lock +
            # commit-THEN-checkpoint untouched)
            self._for_each_engine(apply_one)
            # durable stream-delivered watermark: the highest offset any
            # batch has carried. A table that joins later (DDL-created
            # or attached out-of-band) is owed exactly the history ≤
            # this mark (the file source will never redeliver it) — see
            # StreamingMultiTableCDC._heal_out_of_band_tables
            if global_top > self.stream_watermark():
                _atomic_write(
                    os.path.join(self.root, "_stream_watermark.json"),
                    json.dumps({"delivered_through": global_top}),
                )
        finally:
            batch.unpersist(blocking=False)

    def _batch_stats(self, batch: DataFrame, ckpts: dict[str, dict]) -> list:
        """ONE ``batch_stats_rows`` collect for every table, grouped by
        (``__t`` = the table field, bucket): per group the raw offset
        bounds and the merge stats of the rows that table's prefilter and
        replay guard keep — row-exact whatever each table's bucket count,
        filters or key columns.

        Building a Column costs driver round trips to the JVM, so no
        column is built per table. The replay guard looks each row's
        (table, bucket) mark up in one literal map. The bucket, prefilter
        and key-length columns are each one CASE on the table field with
        a branch per distinct configuration, built once; the most common
        configuration takes the ELSE branch. Rows of unregistered tables
        get it too, and form groups no engine reads (they still count
        toward the batch top)."""
        t = F.col(TABLE_FIELD)
        engines = {name: self.engines[name] for name in ckpts}

        def per_config(config_of, expr_of, default):
            groups: dict[tuple, list[str]] = {}
            for name, eng in engines.items():
                groups.setdefault(config_of(eng), []).append(name)
            if not groups:
                return default
            (common, _), *rest = sorted(groups.items(), key=lambda kv: -len(kv[1]))
            c = F
            for config, names in rest:
                c = c.when(t.isin(names), expr_of(*config))
            return expr_of(*common) if c is F else c.otherwise(expr_of(*common))

        def bucketing(eng):
            return tuple(eng.table.manifest()["bucket_cols"]), eng._checked_num_buckets()

        marks = {n: ck["max_offsets"] for n, ck in ckpts.items() if ck.get("max_offsets")}
        keep = per_config(lambda e: e._prefilter_args(), prefilter_predicate, F.lit(False))
        if marks:
            keep = keep & unprocessed_by_table_predicate(marks, t)
        b = (
            batch.withColumn(BUCKET_COL, per_config(bucketing, bucket_expr, F.lit(0)))
            .withColumn("__keep", keep)
            .withColumn(
                "__klen", per_config(lambda e: (tuple(e.key_cols),), merge.key_bytes, F.lit(0))
            )
        )
        return merge.batch_stats_rows(
            b, F.col("__klen"), "offset", keep=F.col("__keep"), by=(t.alias("__t"),)
        )

    def stream_watermark(self) -> int:
        try:
            with open(os.path.join(self.root, "_stream_watermark.json")) as f:
                return int(json.load(f).get("delivered_through", -1))
        except FileNotFoundError:
            return -1

    # ------------------------------------------------------------- maintenance
    def maintain(self, changelog_dir: str | None = None) -> dict[str, Any]:
        """Background maintenance across the table set (K4 at the agent
        level ≙ QueueProcessor.java:85-106 post-processing): per-table
        small-file compaction + version GC, then SHARED-changelog GC.

        The shared changelog serves EVERY table, so a segment is
        expendable only when every table has processed past it — the GC
        watermark is the min over the tables' reconciled ``stream_pos``
        (ordered delivery: a table at ``stream_pos`` has processed every
        offset ≤ it, in every bucket). Only a table with no processed
        position at all (stream_pos=-1, owed a full replay) blocks GC —
        and is reported via ``gc_blocked_by`` rather than silently
        skipping."""
        out: dict[str, Any] = {"compacted": {}, "expired_versions": {}, "archived": []}

        def maintain_one(name, eng):
            # one version of slack over what crash recovery needs
            return eng.table.compact(self.spark), eng.table.expire_versions(
                keep_last=RECOVERY_KEEP_LAST + 1
            )

        # per-table compaction jobs overlap on the driver thread pool —
        # same disjoint-state argument as apply_batch (each table's
        # compaction rewrites only its own buckets under its own lock)
        for name, (compacted, expired) in self._for_each_engine(maintain_one).items():
            out["compacted"][name] = compacted
            out["expired_versions"][name] = expired
        if changelog_dir and self.engines:
            pos = {
                name: int(eng._reconcile(eng.store.latest()).get("stream_pos", -1))
                for name, eng in self.engines.items()
            }
            low = min(pos, key=pos.get)
            if pos[low] < 0:
                # never silently skip: tell the operator WHY the
                # changelog keeps growing (ADVICE r3 #5)
                out["gc_blocked_by"] = low
                warnings.warn(
                    f"shared-changelog GC blocked: table {low} has no processed "
                    f"position yet (stream_pos=-1, awaiting its history replay)"
                )
            else:
                counters: dict[str, int] = {}
                out["archived"] = expire_changelog_files(
                    changelog_dir, pos[low], counters=counters
                )
                out["gc_counters"] = counters
                out["gc_watermark"] = pos[low]
                out["gc_watermark_table"] = low
        return out

    # ------------------------------------------------------------- reads / metrics
    def final_state(self, name: str) -> DataFrame:
        return self.engines[name].final_state()

    def metrics(self) -> dict[str, dict]:
        """Per-table counters + lineage (≙ per-table offset files,
        FileOffsetWriter.java:75-118). Snapshots the engines dict:
        MetricsServer handler threads call this concurrently with
        DDL-driven create/drop (review r5-3 #5 — a live-dict iteration
        dies with "changed size during iteration", turning a healthy
        DDL apply into a spurious /health 503)."""
        return {name: eng.metrics() for name, eng in list(self.engines.items())}


class StreamingMultiTableCDC(StreamingCDC):
    """Structured-Streaming driver for the orchestrator: ONE readStream
    over the shared changelog, each micro-batch routed to every
    registered table inside foreachBatch (the reference's single agent
    thread feeding all CDC-enabled tables). Exactly-once still rests on
    each table's commit-THEN-checkpoint core; Spark's own stream
    checkpoint only tracks which files were delivered.

    Subclasses StreamingCDC so the reader construction, availableNow
    drain, continuous processingTime watch, and run_until machinery are
    shared rather than duplicated — only the per-batch routing differs.

    ``ddl_dir`` opens a mid-stream DDL channel (≙ the reference
    interleaving DDL LCRs with data, OracleSchemaChangeEventEmitter
    .java:42-63, asserted streaming in OracleConnectorIT.java:501-540):
    ``.sql`` files landing there are applied between micro-batches of
    the SAME running trigger; applied files are recorded durably so a
    restart does not re-apply them.

    A table joins the stream one way, whether a CREATE TABLE provisioned
    it or an operator attached it between runs: it starts at
    stream_pos=-1, and before the next batch the heal replays its
    history up to the durable delivered watermark. Every later offset
    reaches it from the stream, wholly above that position (ordered
    delivery, enforced by ``OutOfOrderDeliveryError``), so nothing
    overlaps and nothing is absorbed. Before the first batch the
    watermark is -1 and the stream itself delivers the whole history.
    """

    def __init__(
        self,
        orch: MultiTableCDC,
        changelog_dir: str,
        stream_checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        payload_fields: list[tuple[str, str]] | None = None,
        ddl_dir: str | None = None,
    ):
        super().__init__(
            engine=None,  # the orchestrator's engines replace the single engine
            changelog_dir=changelog_dir,
            stream_checkpoint_dir=stream_checkpoint_dir,
            max_files_per_trigger=max_files_per_trigger,
            payload_fields=payload_fields,
        )
        import threading

        self.orch = orch
        self.ddl_dir = ddl_dir
        # serializes foreachBatch with the idle-time DDL poller (both
        # mutate orchestrator state: engines dict, checkpoints, catch-ups)
        self._gate = threading.Lock()
        self._poller: threading.Thread | None = None
        self._poller_error: Exception | None = None
        self._poller_error_ts: float = 0.0
        self._poller_interval: float = 1.0

    def _join_tables(self) -> None:
        """Bring the table set up to date between micro-batches: apply
        any new DDL files, then heal every table owed history. Runs
        under ``_gate`` on THREE driver threads — the foreachBatch
        thread (between epochs, never mid-epoch), the pre-start poll in
        ``start()``, and the idle-time poller — which the lock
        serializes; anything it touches must stay safe to run while the
        stream is between (not inside) micro-batches."""
        if self.ddl_dir:
            self._poll_ddl()
        self._heal_out_of_band_tables()

    def _poll_ddl(self) -> None:
        """Apply any NEW ``.sql`` files from the control directory, in
        name order. A table a CREATE provisions starts at
        stream_pos=-1, which is durable, so a crash before its heal
        needs no record of its own."""
        from debezium_incubator_spark.sources.ddl import split_ddl_script

        try:
            files = sorted(f for f in os.listdir(self.ddl_dir) if f.endswith(".sql"))
        except FileNotFoundError:
            files = []
        applied_path = os.path.join(self.orch.root, "_ddl_applied.json")
        try:
            with open(applied_path) as f:
                done = set(json.load(f))
        except FileNotFoundError:
            done = set()
        for fn in (f for f in files if f not in done):
            with open(os.path.join(self.ddl_dir, fn)) as f:
                self.orch.apply_ddl_statements(split_ddl_script(f.read()))
            # record per file: a failure in a later file retries ONLY
            # that file next trigger (apply is warn-and-skip per
            # statement, so a recorded file never half-applies silently)
            done.add(fn)
            _atomic_write(applied_path, json.dumps(sorted(done)))

    def _changelog_view(self, extra_paths: list[str] | None = None):
        from debezium_incubator_spark.sources.changelog import ParquetChangelog

        # the streamer's own schema keeps an EMPTY changelog directory
        # readable (schema inference has nothing to infer before the
        # first file lands)
        return ParquetChangelog(
            self.changelog_dir, schema=self.schema, extra_paths=extra_paths
        )

    def _archive_extra_paths(self) -> list[str]:
        """VERDICT r4 #5 — the archived-history HEAL: when maintain()'s
        GC already archived segments (history ≤ ``archived_through`` no
        longer in the live directory), a heal reads
        ``_archive/`` IN PLACE via the changelog view's extra paths —
        no file moves, so the running stream's seen-files log is
        untouched and nothing is redelivered (≙ a CommitLogTransfer
        that can hand segments back, CommitLogPostProcessor.java:38-55;
        ``gc.restore_archived`` is the operator-facing move-back form).
        Only genuinely-unrecoverable history still warns: the archive
        mark is set but the directory is empty (operator pruned it)."""
        # no GC state — but _archive/ may still hold segments (e.g.
        # reprocess_errors restored repaired ones there): serve whatever
        # exists, the mark only drives the warning
        at = int(read_gc_state(self.changelog_dir).get("archived_through", -1))
        archive = os.path.join(self.changelog_dir, "_archive")
        try:
            has_files = any(fn.endswith(".parquet") for fn in os.listdir(archive))
        except FileNotFoundError:
            has_files = False
        if at >= 0 and not has_files:
            warnings.warn(
                f"heal: changelog offsets ≤ {at} were archived by "
                f"GC but _archive/ holds no segments — healed tables may be "
                f"missing that history"
            )
        return [archive] if has_files else []

    def _heal_out_of_band_tables(self) -> None:
        """Replay history into every engine still at stream_pos=-1 once
        the durable stream watermark shows batches were delivered: a
        table that joined since (a DDL CREATE, or create_table +
        bootstrap between stream runs) will NEVER see the files the
        source already consumed, so it is owed exactly the history ≤
        watermark (``_CappedChangelog`` bounds the replay; offsets
        beyond arrive from the stream). A mid-drain quiet table (no rows
        among the delivered files) pays one scoped scan that applies
        nothing and lands at the watermark — after which it heartbeats
        normally. At a fresh start the watermark is -1 and nothing
        happens (history arrives from the stream's first files). Runs on
        EVERY trigger — with or without a DDL channel."""
        wm = self.orch.stream_watermark()
        if wm < 0:
            return
        log = None
        # snapshot the dict: an operator thread can attach a table
        # (create_table) while the 1 Hz poller iterates — a live-dict
        # iteration would die with "changed size during iteration"
        for name, eng in list(self.orch.engines.items()):
            try:
                if int(eng.resume().get("stream_pos", -1)) >= 0:
                    continue
            except SnapshotPhaseError:
                continue  # attached, not bootstrapped yet
            if log is None:
                log = self._changelog_view(self._archive_extra_paths())
            eng.run(
                TableSlice(_CappedChangelog(log, wm), name),
                offsets_per_epoch=CATCHUP_OFFSETS_PER_EPOCH,
            )

    def _stale_poller_error(self) -> Exception | None:
        """A poller error younger than the retry grace window is left in
        place — the design is warn-and-retry (the applied-file record is
        only written on success), and the next 1 Hz tick usually clears
        it. Raising on the FIRST observation (review r5-3 #4: run_until
        polls faster than the poller interval) would abort the whole
        continuous run on a one-tick hiccup, contradicting that design.
        Only an error that SURVIVED ≥3 poll intervals (≥3 retries) is
        surfaced. Callers either hold ``_gate`` or accept the benign
        double-pop race (both observers raise the same error)."""
        import time

        if self._poller_error is None:
            return None
        grace = max(3.0 * getattr(self, "_poller_interval", 1.0), 3.0)
        if time.monotonic() - self._poller_error_ts < grace:
            return None
        err, self._poller_error = self._poller_error, None
        return err

    def _apply_batch(self, batch_df, epoch_id: int) -> None:
        with self._gate:
            err = self._stale_poller_error()
            if err is not None:
                raise err  # surface a persistent idle-poll failure
            self._join_tables()
            self.orch.apply_batch(batch_df)

    def start(self, spark: SparkSession, available_now: bool = True,
              processing_time: str | None = None):
        """Same trigger modes as StreamingCDC, plus the DDL channel's
        QUIESCENCE fix (review r5-3 — the root cause of the
        mid-stream-DDL test flake): foreachBatch only fires on DATA, so
        a ``.sql`` landing after the stream drained the directory — or
        sitting in the control dir while the changelog is idle — was
        never applied. Now (a) one synchronous poll runs BEFORE the
        query starts (new DDL files and heals apply even on a
        fully-drained directory), and (b) EVERY continuous mode —
        processingTime or the default ASAP trigger — starts a daemon
        poller that applies DDL between triggers while the stream is
        idle, serialized with foreachBatch by ``_gate`` so orchestrator
        state is never mutated concurrently. The poller starts even
        WITHOUT a DDL channel: heals need the same idle
        wake-up. A poller failure is recorded on ``self._poller_error``
        and polling CONTINUES — the applied-file record is only written
        on success, so a transient failure retries and the next
        successful poll clears the slot; ``run_until`` and the next
        data batch re-raise only an error that persisted past the
        retry grace window (``_stale_poller_error``). Callers that
        ``q.stop()`` directly should call ``stop_poller()`` before
        running maintenance so no catch-up outlives the query."""
        with self._gate:
            self._poller_error = None  # a stale error from a previous
            # query incarnation must not kill this one's first batch
            self._join_tables()
        q = super().start(
            spark, available_now=available_now, processing_time=processing_time
        )
        continuous = processing_time is not None or not available_now
        if continuous:
            # poller runs for EVERY continuous stream, not only with a
            # DDL channel (review r5-3 #3): _heal_out_of_band_tables is
            # its own wake-up need — a table attached while the
            # changelog idles would otherwise starve exactly like the
            # post-drain DDL file did (foreachBatch never fires on
            # empty triggers)
            self._start_ddl_poller(q)
        return q

    def _start_ddl_poller(self, q, interval_s: float = 1.0) -> None:
        import threading
        import time

        self.stop_poller()  # at most one poller per driver instance
        self._poller_stop = threading.Event()
        self._poller_interval = interval_s
        stop = self._poller_stop

        def loop():
            while q.isActive and not stop.is_set():
                try:
                    with self._gate:
                        if not q.isActive or stop.is_set():
                            return
                        self._join_tables()
                        self._poller_error = None  # recovered
                except Exception as e:
                    # keep polling: un-recorded files retry next tick;
                    # run_until / the next data batch surface the error
                    # if it persists. Recorded under the gate and only
                    # for a LIVE incarnation (review r5-3 #6: a dying
                    # poller's except block could otherwise poison the
                    # NEXT query after its start() cleared the slot).
                    with self._gate:
                        if q.isActive and not stop.is_set():
                            self._poller_error = e
                            self._poller_error_ts = time.monotonic()
                stop.wait(interval_s)

        t = threading.Thread(target=loop, name="cdc-ddl-poller", daemon=True)
        t.start()
        self._poller = t

    def stop_poller(self, timeout_s: float = 300.0) -> None:
        """Stop the idle-time DDL poller and wait for any in-flight
        poll/catch-up to finish — call after ``q.stop()`` and before
        maintenance, or a catch-up replay could race compaction.
        Raises TimeoutError if the poller is still alive after
        ``timeout_s`` (review r5-3 #2: returning success with a live
        catch-up in flight is the exact race this method exists to
        prevent); ``self._poller`` is kept so a retry can re-join. The
        default allows a multi-epoch catch-up replay to finish."""
        stop = getattr(self, "_poller_stop", None)
        if stop is not None:
            stop.set()
        if self._poller is not None:
            self._poller.join(timeout=timeout_s)
            if self._poller.is_alive():
                raise TimeoutError(
                    f"DDL poller still running a poll/catch-up after "
                    f"{timeout_s:.0f}s — do NOT run maintenance; retry "
                    f"stop_poller() once it finishes"
                )
            self._poller = None

    def run_until(self, spark: SparkSession, stop_condition, **kw) -> None:
        """Continuous-watch form; ``stop_condition`` receives the
        ORCHESTRATOR (the single-table base passes its engine). A
        poller failure surfaces here too — on an IDLE stream there is
        no data batch to re-raise it, and waiting out the timeout would
        mask the real error as TimeoutError."""

        def cond(_eng):
            # no gate here: a catch-up replay can hold _gate for minutes
            # and cond must keep checking the stop condition; the
            # attribute reads are GIL-atomic and a double-pop with
            # _apply_batch is benign (both raise the same error)
            err = self._stale_poller_error()
            if err is not None:
                raise err
            return stop_condition(self.orch)

        try:
            return super().run_until(spark, cond, **kw)
        finally:
            import sys

            try:
                self.stop_poller()
            except TimeoutError:
                if sys.exc_info()[0] is None:
                    raise  # clean run: surface the live catch-up
                # already propagating the real error — don't mask it
                import warnings

                warnings.warn("stop_poller timed out during error unwind")
