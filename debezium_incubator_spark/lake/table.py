"""LakeTable — a minimal transactional, bucketed table format on parquet.

Plays the role Iceberg plays in the design (SURVEY.md §2.4, §4): snapshot
isolation, time travel, schema evolution by field-id, and idempotent
epoch-stamped commits. The physical layout is the one a key-partitioned
MERGE wants at 100 TB:

* data files are hash-bucketed on the primary key (``bucket_cols``), so a
  CDC batch only rewrites the buckets it touches (copy-on-write per
  bucket, like Iceberg CoW MERGE);
* a JSON manifest per version lists files per bucket — manifest-level
  bucket pruning replaces partition pruning;
* commits are atomic via write-new-manifest + ``os.replace`` of a
  VERSION pointer (readers never see a torn state);
* ``summary`` carries ``{epoch, max_offsets, counters, phase}`` so the
  exactly-once checkpoint can always be reconstructed from the committed
  table itself (reference analog: offsets in
  FileOffsetWriter.java:41-172, ack-then-mark in
  KafkaRecordEmitter.java:58-100).

Schema evolution: every field has a stable integer id. Renames are
metadata-only; old data files are mapped to the current names by id at
read time (reference analog: schema-history replay,
OracleConnectorTask.java:70-76, AlterTableParserListener.java:76-133).

Concurrency: single-writer enforced with an exclusive lock file
(reference analog: FileOffsetWriter's FileLock, FileOffsetWriter.java).
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.checkpoint import _atomic_write

BUCKET_COL = "_bucket"


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to commit (reference: FileOffsetWriter lock)."""


def bucket_expr(bucket_cols: list[str], num_buckets: int):
    """Deterministic bucket id for a key — pure function, recomputable on read.

    xxhash64 is a JVM-side, whole-stage-codegen hash; pmod keeps it
    non-negative. Bucketing on the *full* primary key balances hot repos
    across buckets (skew story for 100 TB).
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in bucket_cols]), F.lit(num_buckets)).cast("int")


def _file_identity(st: os.stat_result) -> tuple:
    """Which file a path names: a rewrite under the same name (always a
    new file, see _atomic_write) changes its inode, mtime or size."""
    return st.st_ino, st.st_mtime_ns, st.st_size


class LakeTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "_meta")
        if not os.path.exists(os.path.join(self.meta_dir, "VERSION")):
            raise FileNotFoundError(f"not a LakeTable: {path}")
        # manifests are immutable once written (commit copies, never
        # mutates), so they cache by version — the apply loop reads the
        # manifest many times per epoch (bucket routing, stats, schema,
        # commit) and the file list grows with the table. Each hit is
        # checked against the file's identity (one stat): a DROP+CREATE
        # starts another chain under the same version numbers, and an
        # expired version must read as gone. The VERSION pointer is
        # re-read on every access, so another process's commit is picked
        # up immediately
        self._manifest_cache: dict[int, tuple[tuple, dict]] = {}

    # ------------------------------------------------------------------ create
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        bucket_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        meta_dir = os.path.join(path, "_meta")
        os.makedirs(meta_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(schema.fields)
        ]
        manifest = {
            "version": 0,
            "parent": None,
            "num_buckets": num_buckets,
            "bucket_cols": bucket_cols,
            "current_schema": 0,
            "next_field_id": len(fields) + 1,
            "schemas": {"0": fields},
            "buckets": {},
            "summary": {},
            "properties": properties or {},
        }
        _atomic_write(os.path.join(meta_dir, "v00000.json"), json.dumps(manifest, indent=1))
        _atomic_write(os.path.join(meta_dir, "VERSION"), "0")
        return LakeTable(path)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "_meta", "VERSION"))

    @staticmethod
    def drop(path: str) -> bool:
        """DROP TABLE: remove the table's data and metadata (≙ the
        reference dropping its schema-cache entry on a DROP TABLE DDL,
        SchemaHolder.java:25-52 — here the storage goes too, since the
        LakeTable IS the materialized target). Returns False when no
        table exists at ``path``."""
        import shutil

        if not LakeTable.exists(path):
            return False
        # BLOCKING lock: wait for an in-flight commit to finish rather
        # than failing the drop out from under a live writer. A
        # CONCURRENT drop can rmtree between the exists() check and the
        # lock acquisition (TOCTOU): the constructor or os.open then
        # raises FileNotFoundError, and the lock's inode-generation
        # check raises ConcurrentWriteError — both mean "already gone"
        # when the table no longer exists, i.e. the documented False.
        try:
            with LakeTable(path)._writer_lock(blocking=True):
                shutil.rmtree(path, ignore_errors=True)
        except (FileNotFoundError, ConcurrentWriteError):
            if not LakeTable.exists(path):
                return False
            raise
        return True

    # ------------------------------------------------------------------ meta
    def version(self) -> int:
        with open(os.path.join(self.meta_dir, "VERSION")) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.version() if version is None else version
        path = os.path.join(self.meta_dir, f"v{v:05d}.json")
        hit = self._manifest_cache.get(v)
        if hit is not None and hit[0] == _file_identity(os.stat(path)):
            return hit[1]
        with open(path) as f:
            ident = _file_identity(os.fstat(f.fileno()))
            m = json.load(f)
        if len(self._manifest_cache) >= 8:  # bounded: recovery walks few versions
            try:
                # the stats-prefetch thread and the commit thread can
                # both be here — eviction is best-effort under races.
                # Evict the LOWEST version, not insertion order: under
                # concurrent insertion, insertion order could evict the
                # hot current version right after it was cached
                # (ADVICE r4 — correctness unaffected, re-reads avoided)
                self._manifest_cache.pop(min(self._manifest_cache), None)
            except (ValueError, RuntimeError, KeyError):
                pass
        self._manifest_cache[v] = (ident, m)
        return m

    def current_fields(self, manifest: dict | None = None) -> list[dict]:
        m = manifest or self.manifest()
        return m["schemas"][str(m["current_schema"])]

    def spark_schema(self, manifest: dict | None = None) -> T.StructType:
        return _struct(self.current_fields(manifest))

    def summary(self, version: int | None = None) -> dict:
        return self.manifest(version).get("summary", {})

    def row_count(self, buckets: Iterable[int] | None = None, manifest: dict | None = None) -> int:
        """Approximate row count from manifest file stats (0 for files
        committed before stats were recorded — callers treat missing
        stats as 'unknown, assume small')."""
        m = manifest or self.manifest()
        wanted = None if buckets is None else {int(b) for b in buckets}
        total = 0
        for b, files in m["buckets"].items():
            if wanted is not None and int(b) not in wanted:
                continue
            for fi in files:
                total += fi.get("rows", 0)
        return total

    # ------------------------------------------------------------------ lock
    @contextmanager
    def _writer_lock(self, blocking: bool = False):
        """Single-writer exclusion via a kernel advisory lock (flock), the
        same mechanism as the reference's java.nio FileLock
        (FileOffsetWriter.java). A crashed writer's lock is released by
        the kernel when its fd closes, so there is NO steal protocol and
        no steal race (the previous pid-file scheme had a TOCTOU window
        where two stealers of a dead writer's lock could both win).

        ``blocking=True`` waits for the current holder instead of raising
        (used by drop: an in-flight commit must finish before teardown).

        The LOCK file is deliberately never unlinked: unlink+recreate is
        the classic flock hazard (a waiter holding the old inode and a
        creator of the new one would both "hold" the lock). The pid is
        written for operator diagnostics only — liveness is the kernel's
        job, not ours.
        """
        import fcntl

        lock = os.path.join(self.meta_dir, "LOCK")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            try:
                flags = fcntl.LOCK_EX if blocking else fcntl.LOCK_EX | fcntl.LOCK_NB
                fcntl.flock(fd, flags)
            except OSError:
                raise ConcurrentWriteError(f"another writer holds {lock}")
            # generation check: drop() removes the whole table directory,
            # so a waiter can win the flock on an ORPHANED inode while a
            # re-created table has a fresh LOCK file. Holding the orphan
            # is not holding the lock — verify the path still resolves to
            # our inode before touching any state.
            try:
                cur_ino = os.stat(lock).st_ino
            except FileNotFoundError:
                raise ConcurrentWriteError(f"table dropped while waiting for {lock}")
            if os.fstat(fd).st_ino != cur_ino:
                raise ConcurrentWriteError(
                    f"lock superseded (table dropped/recreated): {lock}"
                )
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
            yield
        finally:
            os.close(fd)  # releases the flock

    # ------------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: Iterable[int] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Read the table at a version, optionally pruned to a bucket subset.

        Bucket pruning happens here at the manifest level (driver-side) —
        the Spark scan never even lists unrelated files; the equivalent of
        Iceberg partition pruning. Each scan carries the schema its files
        were written under (the manifest records it), so no Spark job
        infers one from the footers.
        """
        m = self.manifest(version)
        cur_fields = m["schemas"][str(m["current_schema"])]
        wanted = set(range(m["num_buckets"])) if buckets is None else set(int(b) for b in buckets)

        # group files by the schema version they were written under
        by_schema: dict[str, list[str]] = {}
        for b, files in m["buckets"].items():
            if int(b) not in wanted:
                continue
            for fi in files:
                by_schema.setdefault(str(fi["schema"]), []).append(
                    os.path.join(self.path, fi["path"])
                )

        out_schema = _struct(cur_fields)
        parts: list[DataFrame] = []
        for sv, files in sorted(by_schema.items()):
            df = spark.read.schema(_struct(m["schemas"][sv])).parquet(*files)
            file_fields = {f["id"]: f for f in m["schemas"][sv]}
            cols = []
            for f in cur_fields:
                src = file_fields.get(f["id"])
                if src is None:
                    cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
                else:
                    cols.append(F.col(src["name"]).cast(f["type"]).alias(f["name"]))
            parts.append(df.select(*cols))
        if not parts:
            return spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if columns:
            out = out.select(*columns)
        return out

    def with_bucket(self, df: DataFrame, manifest: dict | None = None) -> DataFrame:
        m = manifest or self.manifest()
        return df.withColumn(BUCKET_COL, bucket_expr(m["bucket_cols"], m["num_buckets"]))

    # ------------------------------------------------------------------ write
    def commit(
        self,
        df: DataFrame,
        replace_buckets: Iterable[int],
        summary: dict | None = None,
        expected_version: int | None = None,
        write_tasks: int | None = None,
        summary_fn=None,
    ) -> int:
        """Copy-on-write commit: rewrite ``replace_buckets`` with ``df``.

        ``df`` must contain exactly the surviving rows of the replaced
        buckets, with a ``_bucket`` column. Untouched buckets keep their
        existing files — at 100 TB a CDC batch touching 1% of buckets
        rewrites 1% of the table.

        ``write_tasks`` sizes the write shuffle: with N buckets touched
        and write_tasks > N the shuffle keys on (bucket, key-salt), so a
        200 GB bucket is written by many tasks producing many files under
        its partition directory (the manifest already lists multiple
        files per bucket). Default keys on bucket alone — one reducer per
        touched bucket — which is only right when buckets are small.

        ``summary_fn`` (exclusive with ``summary``): a callable resolved
        AFTER the data write, just before the manifest is published —
        lets a caller overlap a summary-feeding Spark job (the batch
        stats collect) with the write job instead of serializing the two
        (the manifest is only assembled post-write anyway).
        """
        if summary_fn is not None and summary is not None:
            raise ValueError("pass summary or summary_fn, not both")
        with self._writer_lock():
            m = self.manifest()
            if expected_version is not None and m["version"] != expected_version:
                raise ConcurrentWriteError(
                    f"version moved: expected {expected_version}, found {m['version']}"
                )
            new_version = m["version"] + 1
            rel_dir = f"data/v{new_version:05d}-{uuid.uuid4().hex[:8]}"
            out_dir = os.path.join(self.path, rel_dir)
            replace = set(int(b) for b in replace_buckets)

            cur_fields = self.current_fields(m)
            n_tasks = max(len(replace), 1)
            part_exprs = [F.col(BUCKET_COL)]
            if write_tasks is not None and write_tasks > n_tasks:
                # spread each bucket over ~write_tasks/n_buckets reducers:
                # salt on the primary-key hash (uniform within a bucket).
                # partitionBy on write still routes rows to the right
                # directory, so the salt never leaks into the layout.
                n_tasks = int(write_tasks)
                part_exprs.append(
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in m["bucket_cols"]], F.lit(0x5A17)),
                        F.lit(max(1, n_tasks // max(len(replace), 1))),
                    )
                )
            # shuffle keyed on (bucket[, salt]) → file-groups per bucket;
            # AQE coalesces small buckets into shared tasks. Columns are
            # written in the manifest's types (a no-op cast when they
            # already match), so read() can scan with that schema
            (
                df.select(
                    *[F.col(f["name"]).cast(f["type"]).alias(f["name"]) for f in cur_fields],
                    BUCKET_COL,
                )
                .repartition(n_tasks, *part_exprs)
                .write.partitionBy(BUCKET_COL)
                .mode("overwrite")
                .parquet(out_dir)
            )

            new_buckets = dict(m["buckets"])
            for b in replace:
                new_buckets.pop(str(b), None)
            sv = m["current_schema"]
            import pyarrow.parquet as pq

            pending: list[tuple[int, str]] = []
            for entry in sorted(os.listdir(out_dir)):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                b = int(entry.split("=", 1)[1])
                if b not in replace:
                    raise ValueError(f"df contains rows for unexpected bucket {b}")
                for fn in sorted(os.listdir(os.path.join(out_dir, entry))):
                    if fn.endswith(".parquet"):
                        pending.append((b, f"{rel_dir}/{entry}/{fn}"))
            # footer row count → manifest stats (drives the merge's
            # broadcast-vs-shuffle decision, ≙ Iceberg file stats); read
            # concurrently — a wide commit lists hundreds of files and
            # serial driver-side footer opens were pure added latency
            from concurrent.futures import ThreadPoolExecutor

            def _rows(item):
                b, fp = item
                return b, fp, pq.ParquetFile(os.path.join(self.path, fp)).metadata.num_rows

            if pending:
                with ThreadPoolExecutor(max_workers=min(16, len(pending))) as fpool:
                    for b, fp, rows in fpool.map(_rows, pending):
                        new_buckets.setdefault(str(b), []).append(
                            {"path": fp, "schema": sv, "rows": rows}
                        )

            if summary_fn is not None:
                summary = summary_fn()
            m_new = dict(m)
            m_new.update(
                version=new_version,
                parent=m["version"],
                buckets=new_buckets,
                summary=summary or {},
            )
            self._publish(m_new)
            return new_version

    def commit_schema_change(self, new_fields: list[dict], summary: dict | None = None) -> int:
        """Metadata-only commit (DDL): new current schema, same data files."""
        with self._writer_lock():
            m = self.manifest()
            new_version = m["version"] + 1
            new_schema_id = m["current_schema"] + 1
            schemas = dict(m["schemas"])
            schemas[str(new_schema_id)] = new_fields
            m_new = dict(m)
            m_new.update(
                version=new_version,
                parent=m["version"],
                current_schema=new_schema_id,
                schemas=schemas,
                next_field_id=max(
                    m["next_field_id"], max((f["id"] for f in new_fields), default=0) + 1
                ),
                summary=summary or dict(m.get("summary", {})),
            )
            self._publish(m_new)
            return new_version

    def add_column(self, name: str, dtype: str) -> int:
        m = self.manifest()
        fields = [dict(f) for f in self.current_fields(m)]
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column exists: {name}")
        fields.append({"id": m["next_field_id"], "name": name, "type": dtype})
        return self.commit_schema_change(fields)

    def rename_column(self, old: str, new: str) -> int:
        m = self.manifest()
        fields = [dict(f) for f in self.current_fields(m)]
        hit = [f for f in fields if f["name"] == old]
        if not hit:
            raise ValueError(f"no such column: {old}")
        hit[0]["name"] = new
        return self.commit_schema_change(fields)

    def drop_column(self, name: str) -> int:
        m = self.manifest()
        fields = [dict(f) for f in self.current_fields(m) if f["name"] != name]
        return self.commit_schema_change(fields)

    def modify_column(self, name: str, dtype: str) -> int:
        """Type change (widening), metadata-only: the field id keeps its
        identity; old data files are cast to the current type at read
        time by the field-id mapping (same mechanism as renames). The
        reference leaves ALTER ... MODIFY as a TODO (warn+skip) — this
        exceeds parity because type widening is routine in real CDC
        streams.

        Only transitions that are LOSSLESS for every already-written
        value are allowed (an explicit whitelist — under Spark 4 ANSI
        mode any other read-time cast would either throw on old files or
        silently change values):
          * identical type;
          * integer widening (tinyint→smallint→int→bigint);
          * integer → float/double ONLY where the full integer range
            fits the mantissa (tinyint/smallint → float or double;
            int → double; bigint → NEITHER — 2^62+1 would silently
            round), and float → double;
          * decimal(p1,s1) -> decimal(p2,s2) with s2 >= s1 and
            p2-s2 >= p1-s1 (integer digits and scale both grow);
          * integer family -> decimal with enough integer digits;
          * date -> timestamp / timestamp_ntz;
          * any type -> string (Spark's cast-to-string is total).
        Everything else raises ValueError.
        """
        import re as _re

        import pyspark.sql.types as T

        old = {f["name"]: f["type"] for f in self.current_fields()}
        if name not in old:
            raise ValueError(f"no such column: {name}")
        # value-preserving numeric transitions only: every representable
        # value of the source type must round-trip through the target
        _SAFE_WIDEN = {
            "tinyint": {"smallint", "int", "bigint", "float", "double"},
            "smallint": {"int", "bigint", "float", "double"},
            "int": {"bigint", "double"},  # NOT float (24-bit mantissa)
            "bigint": set(),  # NOT float/double (53-bit mantissa)
            "float": {"double"},
        }
        _INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}
        o, n = old[name], T._parse_datatype_string(dtype).simpleString()

        def _dec(t: str) -> tuple[int, int] | None:
            m = _re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
            return (int(m.group(1)), int(m.group(2))) if m else None

        ok = o == n or n == "string"
        if not ok:
            ok = n in _SAFE_WIDEN.get(o, set())
        if not ok:
            od, nd = _dec(o), _dec(n)
            if od and nd:
                ok = nd[1] >= od[1] and (nd[0] - nd[1]) >= (od[0] - od[1])
            elif nd and o in _INT_DIGITS:
                ok = (nd[0] - nd[1]) >= _INT_DIGITS[o]
        if not ok and o == "date" and n in ("timestamp", "timestamp_ntz"):
            ok = True
        if not ok:
            raise ValueError(
                f"refusing type change {name}: {o} -> {n} is not a lossless "
                f"widening (old data files would be corrupted or fail the "
                f"ANSI read-time cast)"
            )
        m = self.manifest()
        fields = [dict(f) for f in self.current_fields(m)]
        for f in fields:
            if f["name"] == name:
                f["type"] = n
        return self.commit_schema_change(fields)

    def _publish(self, manifest: dict) -> None:
        _atomic_write(
            os.path.join(self.meta_dir, f"v{manifest['version']:05d}.json"),
            json.dumps(manifest, indent=1),
        )
        _atomic_write(os.path.join(self.meta_dir, "VERSION"), str(manifest["version"]))

    # ------------------------------------------------------------------ maintenance
    def compact(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        min_files: int = 4,
        summary: dict | None = None,
    ) -> list[int]:
        """Small-file compaction (≙ Iceberg rewrite_data_files): rewrite
        any bucket holding ≥ ``min_files`` data files into fresh files —
        a logical no-op commit. CoW epochs churn files; at 100 TB this
        runs as a background job over cold buckets."""
        m = self.manifest()
        wanted = (
            set(range(m["num_buckets"])) if buckets is None else {int(b) for b in buckets}
        )
        targets = [
            int(b)
            for b, files in m["buckets"].items()
            if int(b) in wanted and len(files) >= min_files
        ]
        if not targets:
            return []
        df = self.with_bucket(self.read(spark, buckets=targets), m)
        base = dict(m.get("summary", {}))
        base.update(summary or {})
        self.commit(df, replace_buckets=targets, summary=base)
        return sorted(targets)

    def expire_versions(self, keep_last: int = 2) -> list[int]:
        """GC old versions + unreferenced data dirs (reference analog:
        commit-log archive/delete post-processing, QueueProcessor.java:85-106).

        Runs under the writer lock: a concurrent commit's freshly written
        data/vNNNNN-* dir is unreferenced until _publish, and an unlocked
        background GC could rmtree it between write and publish."""
        with self._writer_lock():
            cur = self.version()
            lo = max(0, cur - keep_last + 1)
            keep = set(range(lo, cur + 1))
            live_dirs: set[str] = set()
            for v in keep:
                try:
                    m = self.manifest(v)
                except FileNotFoundError:
                    # a keep_last larger than the previous run's reaches
                    # versions that run already deleted — gone either
                    # way; skipping them (mirroring VersionedState.expire)
                    # keeps maintenance alive
                    continue
                for files in m["buckets"].values():
                    for fi in files:
                        live_dirs.add(fi["path"].split("/")[1])
            removed = []
            for fn in os.listdir(self.meta_dir):
                if fn.startswith("v") and fn.endswith(".json"):
                    v = int(fn[1:6])
                    if v not in keep:
                        os.unlink(os.path.join(self.meta_dir, fn))
                        removed.append(v)
            data_dir = os.path.join(self.path, "data")
            for d in os.listdir(data_dir):
                if d not in live_dirs:
                    import shutil

                    shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
            return sorted(removed)


def _parse_type(ddl: str) -> T.DataType:
    # struct<...> etc. all round-trip through simpleString/fromDDL
    return T._parse_datatype_string(ddl)


def _struct(fields: list[dict]) -> T.StructType:
    return T.StructType([T.StructField(f["name"], _parse_type(f["type"]), True) for f in fields])
