"""Commit-then-pointer versioned state for durable operator indexes.

Shared by `dedup_incremental.IncrementalDedupIndex` and
`ann_index.IVFIndex`: every mutation writes new state dirs plus a
manifest ``v{N}.json``, then atomically swings the ``_VERSION`` pointer
(`lake/checkpoint.py:_atomic_write` — the same invariant as the lake's
manifest/VERSION commit). A crash mid-mutation leaves the previous
version fully readable; the failed attempt's dirs are unreferenced and
a retry simply takes the next version number (overwriting them).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from debezium_incubator_spark.lake.checkpoint import _atomic_write
from debezium_incubator_spark.lake.table import ConcurrentWriteError

_VERSION_FILE = "_VERSION"
_SCHEMA_FILE = "_schema.json"


class VersionedState:
    def __init__(self, spark: SparkSession, path: str, params: dict):
        self.spark = spark
        self.path = path
        self.params = params
        os.makedirs(path, exist_ok=True)

    @contextmanager
    def mutate(self):
        """Single-writer exclusion for a whole mutation (state writes +
        manifest + pointer), via the same kernel flock discipline as
        `lake/table.py:_writer_lock` (never-unlinked LOCK file — the
        unlink+recreate flock hazard). Without it two concurrent add()s
        would compute the same version, overwrite each other's state
        dirs mid-write, and race the pointer (lost update)."""
        import fcntl

        lock = os.path.join(self.path, "_LOCK")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                raise ConcurrentWriteError(f"another writer holds {lock}")
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
            yield
        finally:
            os.close(fd)

    def version(self) -> int:
        vf = os.path.join(self.path, _VERSION_FILE)
        if not os.path.exists(vf):
            return 0
        with open(vf) as f:
            return json.load(f)["version"]

    def manifest(self, version: int | None = None) -> dict:
        """Current manifest (or an AS-OF one: any version not yet
        reclaimed by `expire` stays fully readable — time-travel for
        reproducible dataset snapshots, the lake's S2 semantics applied
        to operator state). Raises on empty/expired state, and on a
        param mismatch between the stored index and the caller's
        constructor arguments (an index answers queries ONLY under the
        parameters it was built with)."""
        v = self.version() if version is None else version
        if v == 0:
            raise RuntimeError(f"index at {self.path} has no committed state")
        mp = os.path.join(self.path, f"v{v}.json")
        if not os.path.exists(mp):
            raise RuntimeError(
                f"index at {self.path} has no readable version {v} "
                "(never committed, or reclaimed by expire())"
            )
        with open(mp) as f:
            m = json.load(f)
        for k, want in self.params.items():
            if m["params"].get(k) != want:
                raise ValueError(
                    f"index param mismatch for {k}: stored {m['params'].get(k)!r}"
                    f" vs requested {want!r}"
                )
        return m

    def commit(self, manifest: dict) -> int:
        v = self.version() + 1
        manifest["params"] = self.params
        manifest["committed_at"] = time.time()
        _atomic_write(os.path.join(self.path, f"v{v}.json"), json.dumps(manifest))
        _atomic_write(
            os.path.join(self.path, _VERSION_FILE), json.dumps({"version": v})
        )
        return v

    def metrics_base(self) -> dict:
        """The metrics shell both durable indexes share (review r5-6 #4)
        — manifest-derived, no Spark job; each index adds its own
        batch-chain keys on top."""
        v = self.version()
        if v == 0:
            return {"phase": "empty", "version": 0}
        m = self.manifest()
        return {
            "phase": "serving",
            "version": v,
            "stream_pos": m.get("stream_pos", -1),
            "tombstone_sets": len(m.get("tombstones", [])),
        }

    def expire(self, keep_last: int = 1, protect: tuple = ()) -> list[str]:
        """Reclaim disk: delete state dirs referenced by NO retained
        manifest, plus the superseded ``v{N}.json`` manifests themselves.
        The natural companion of an index's ``compact()`` — compaction
        swings the manifest to the rewritten dirs but leaves the old
        batch/tombstone dirs on disk (crash-safety: the previous version
        stays fully readable until the operator decides to reclaim it).

        ``keep_last`` retains that many newest versions (≥2 leaves a
        fallback for concurrent readers mid-scan on a shared
        filesystem — same rationale as `lake/table.py:expire_versions`).
        ``protect`` names dirs outside any manifest that must survive
        (e.g. the IVF index's frozen ``centroids/``). Takes the writer
        lock itself — call it OUTSIDE mutate(). Returns deleted names.
        """
        import shutil

        with self.mutate():
            v = self.version()
            if v == 0:
                return []
            keep_from = max(1, v - keep_last + 1)
            referenced: set[str] = set(protect)

            def walk(node):
                if isinstance(node, str):
                    referenced.add(node)
                elif isinstance(node, dict):
                    for x in node.values():
                        walk(x)
                elif isinstance(node, (list, tuple)):
                    for x in node:
                        walk(x)

            for n in range(keep_from, v + 1):
                mp = os.path.join(self.path, f"v{n}.json")
                # a previous, tighter expire may already have deleted
                # this manifest (e.g. keep_last raised between runs with
                # no new commits in between) — it references nothing
                if not os.path.exists(mp):
                    continue
                with open(mp) as f:
                    walk(json.load(f))
            removed = []
            for name in sorted(os.listdir(self.path)):
                full = os.path.join(self.path, name)
                if os.path.isdir(full):
                    if name not in referenced:
                        shutil.rmtree(full)
                        removed.append(name)
                elif name.startswith("v") and name.endswith(".json"):
                    try:
                        n = int(name[1:-5])
                    except ValueError:
                        continue
                    if n < keep_from:
                        os.remove(full)
                        removed.append(name)
            return removed

    def read(self, dirs: list[str]) -> DataFrame:
        """Read state dirs with the schema ``write`` recorded — inferring
        it from the parquet footers costs a Spark job per read. Dirs
        written before the record existed (or recorded under different
        schemas) are inferred as before."""
        paths = [os.path.join(self.path, d) for d in dirs]
        recorded = set()
        for p in paths:
            try:
                with open(os.path.join(p, _SCHEMA_FILE)) as f:
                    recorded.add(f.read())
            except FileNotFoundError:
                recorded.add(None)
        reader = self.spark.read
        if len(recorded) == 1 and None not in recorded:
            reader = reader.schema(T.StructType.fromJson(json.loads(recorded.pop())))
        return reader.parquet(*paths)

    def write(self, df: DataFrame, rel: str, partition_by: str | None = None) -> None:
        out = os.path.join(self.path, rel)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(out)
        # parquet readers skip ``_``-prefixed files
        _atomic_write(os.path.join(out, _SCHEMA_FILE), df.schema.json())
