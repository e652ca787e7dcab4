"""LakeTable unit tests (≙ FileOffsetWriterTest.java:39-126 +
SchemaProcessorTest.java:18-52 territory: persistence round-trips,
locking, schema evolution)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.table import (
    BUCKET_COL,
    ConcurrentWriteError,
    LakeTable,
    bucket_expr,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, tmp_table, rows):
    t = LakeTable.create(tmp_table, SCHEMA, bucket_cols=["repo", "path"], num_buckets=4)
    df = spark.createDataFrame(rows, SCHEMA)
    df = t.with_bucket(df)
    t.commit(df, replace_buckets=range(4), summary={"epoch": 0})
    return t


def test_create_commit_read_roundtrip(spark, tmp_table):
    rows = [("r1", f"p{i}", i) for i in range(20)]
    t = _mk(spark, tmp_table, rows)
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(rows)
    assert t.version() == 1
    assert t.summary()["epoch"] == 0


def test_bucket_pruning_reads_subset(spark, tmp_table):
    rows = [(f"r{i}", f"p{i}", i) for i in range(40)]
    t = _mk(spark, tmp_table, rows)
    m = t.manifest()
    some = [int(b) for b in list(m["buckets"])[:2]]
    df = t.read(spark, buckets=some)
    # every row read must hash into the requested buckets
    chk = df.withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 4))
    assert chk.filter(~F.col(BUCKET_COL).isin(some)).count() == 0
    assert 0 < df.count() < 40


def test_copy_on_write_only_touched_buckets(spark, tmp_table):
    rows = [(f"r{i}", f"p{i}", i) for i in range(40)]
    t = _mk(spark, tmp_table, rows)
    m1 = t.manifest()
    # rewrite bucket 0 only
    b0 = t.read(spark, buckets=[0]).withColumn("v", F.col("v") + 100)
    t.commit(t.with_bucket(b0), replace_buckets=[0], summary={"epoch": 1})
    m2 = t.manifest()
    for b in m2["buckets"]:
        if int(b) == 0:
            assert m2["buckets"][b] != m1["buckets"].get(b)
        else:
            assert m2["buckets"][b] == m1["buckets"][b]  # untouched files reused


def test_time_travel(spark, tmp_table):
    rows = [("r1", f"p{i}", i) for i in range(10)]
    t = _mk(spark, tmp_table, rows)
    upd = t.read(spark).withColumn("v", F.col("v") * 10)
    t.commit(t.with_bucket(upd), replace_buckets=range(4), summary={"epoch": 1})
    assert t.read(spark, version=1).agg(F.sum("v")).first()[0] == sum(range(10))
    assert t.read(spark).agg(F.sum("v")).first()[0] == sum(range(10)) * 10


def test_schema_add_rename_drop_mapping(spark, tmp_table):
    rows = [("r1", f"p{i}", i) for i in range(5)]
    t = _mk(spark, tmp_table, rows)
    t.add_column("stars", "bigint")
    # old files must read with null stars
    df = t.read(spark)
    assert df.columns == ["repo", "path", "v", "stars"]
    assert df.filter(F.col("stars").isNull()).count() == 5
    # write with stars, rename v->version: old files map by field id
    df2 = t.with_bucket(df.withColumn("stars", F.lit(7)))
    t.commit(df2, replace_buckets=range(4), summary={})
    t.rename_column("v", "version")
    got = t.read(spark)
    assert got.columns == ["repo", "path", "version", "stars"]
    assert got.agg(F.sum("version")).first()[0] == sum(range(5))
    t.drop_column("stars")
    assert t.read(spark).columns == ["repo", "path", "version"]


def test_writer_lock_excludes_second_writer(spark, tmp_table):
    """flock semantics: a held lock excludes; a crashed writer's lock is
    released by the kernel (no steal protocol, no steal race)."""
    import fcntl

    t = _mk(spark, tmp_table, [("r1", "p1", 1)])
    lock_path = os.path.join(t.meta_dir, "LOCK")
    # another process holds the flock → ConcurrentWriteError
    holder = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    # flock is per-open-file-description: this process's second open
    # contends like a foreign process would
    with pytest.raises(ConcurrentWriteError):
        with t._writer_lock():
            pass
    # "crash": the holder's fd closes without an explicit unlock —
    # the kernel releases the lock, the next writer acquires cleanly
    os.close(holder)
    with t._writer_lock():
        pass
    # a leftover LOCK file from a dead writer carries no lock at all
    assert os.path.exists(lock_path)
    with t._writer_lock():
        pass


def test_writer_lock_race_exactly_one_wins(tmp_table):
    """N processes race for the lock over a dead writer's leftover LOCK
    file; mutual exclusion must hold (the old pid-file protocol had a
    TOCTOU where two stealers could both acquire)."""
    import multiprocessing as mp
    import time

    tmp_table_dir = tmp_table
    meta = os.path.join(tmp_table_dir, "_meta")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "VERSION"), "w") as f:
        f.write("0")
    with open(os.path.join(meta, "v00000.json"), "w") as f:
        f.write("{}")
    # leftover lock file from a "crashed" writer (no flock held on it)
    with open(os.path.join(meta, "LOCK"), "w") as f:
        f.write("999999999")

    def contend(path, results, idx):
        t = LakeTable(path)
        acquired = 0
        for _ in range(50):
            try:
                with t._writer_lock():
                    marker = os.path.join(path, "critical")
                    assert not os.path.exists(marker), "two writers in critical section"
                    with open(marker, "w") as f:
                        f.write(str(os.getpid()))
                    time.sleep(0.001)
                    os.unlink(marker)
                    acquired += 1
            except ConcurrentWriteError:
                time.sleep(0.001)
        results[idx] = acquired

    with mp.Manager() as mgr:
        results = mgr.dict()
        procs = [
            mp.Process(target=contend, args=(tmp_table_dir, results, i)) for i in range(4)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(60)
        counts = dict(results)
    assert len(counts) == 4 and all(p.exitcode == 0 for p in procs)
    assert sum(counts.values()) > 0


def test_drop_concurrent_toctou_returns_false(tmp_table, monkeypatch):
    """ADVICE r3: a concurrent drop can rmtree the table between drop()'s
    exists() check and the lock acquisition — the documented contract is
    a False return (already gone), not an escaping FileNotFoundError."""
    real_exists = LakeTable.exists
    calls = {"n": 0}

    def racy_exists(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return True  # the table "was there" an instant ago
        return real_exists(path)

    monkeypatch.setattr(LakeTable, "exists", staticmethod(racy_exists))
    # the path never existed → LakeTable.__init__ raises FileNotFoundError
    # exactly like the post-rmtree window
    assert LakeTable.drop(tmp_table) is False


def test_modify_column_transition_whitelist(spark, tmp_table):
    """Only lossless widenings commit; every cross-family change is
    refused (an unchecked metadata change would make the ANSI read-time
    cast of old files throw or silently corrupt values)."""
    t = _mk(spark, tmp_table, [("r1", "p1", 1)])
    # mantissa-safe widening + any->string + date->timestamp + decimal growth
    t.add_column("d", "date")
    t.modify_column("d", "timestamp")
    t.add_column("n", "decimal(6,2)")
    t.modify_column("n", "decimal(10,4)")  # int digits 4->6, scale 2->4
    t.add_column("i", "int")
    t.modify_column("i", "decimal(12,2)")  # 10 int digits fit
    t.add_column("si", "smallint")
    t.modify_column("si", "float")         # 16-bit int fits a 24-bit mantissa
    t.modify_column("si", "double")        # float -> double
    t.add_column("j", "int")
    t.modify_column("j", "bigint")
    t.modify_column("v", "string")         # bigint -> string (total cast)
    # refused: cross-family, narrowing, decimal shrink, timestamp->date,
    # and the mantissa-LOSSY float/double paths
    t.add_column("v2", "bigint")
    t.add_column("k", "int")
    for col, bad in [
        ("v", "int"),            # string -> int
        ("n", "decimal(9,4)"),   # int digits 6 -> 5
        ("n", "decimal(12,2)"),  # scale 4 -> 2
        ("d", "date"),           # timestamp -> date
        ("i", "double"),         # decimal -> double loses precision
        ("v2", "double"),        # bigint 2^62+1 would round in a 53-bit mantissa
        ("v2", "float"),
        ("k", "float"),          # int 2^31-1 would round in a 24-bit mantissa
    ]:
        with pytest.raises(ValueError, match="lossless"):
            t.modify_column(col, bad)
    # int -> decimal with too few integer digits is refused
    with pytest.raises(ValueError, match="lossless"):
        t.modify_column("k", "decimal(9,2)")
    # data written before the widenings still reads (v went long->string)
    assert t.read(spark).select("v").first()[0] == "1"


def test_expire_versions_gc(spark, tmp_table):
    t = _mk(spark, tmp_table, [("r1", f"p{i}", i) for i in range(8)])
    for e in range(3):
        df = t.with_bucket(t.read(spark).withColumn("v", F.col("v") + 1))
        t.commit(df, replace_buckets=range(4), summary={"epoch": e + 1})
    removed = t.expire_versions(keep_last=2)
    assert removed and max(removed) < t.version() - 1
    assert t.read(spark).count() == 8  # current still readable
    with pytest.raises(FileNotFoundError):
        t.manifest(0)


def test_manifest_cache_follows_drop_and_recreate(spark, tmp_table):
    """A handle that outlives a DROP+CREATE serves the NEW chain's
    manifests: a cached manifest is checked against its file, not
    trusted by version number alone."""
    t = _mk(spark, tmp_table, [("r1", "a", 1)])
    t.add_column("old_col", "string")
    old = [t.manifest(v) for v in range(3)]
    assert LakeTable.drop(tmp_table)
    t2 = _mk(spark, tmp_table, [("rX", "z", 100)])
    t2.add_column("new_col", "string")  # the new chain also reaches v2
    assert t.manifest(2) == t2.manifest(2) != old[2]
    assert t.current_fields(t.manifest(2))[-1]["name"] == "new_col"
    assert t.read(spark).collect() == [("rX", "z", 100, None)]


def test_compaction_merges_small_files(spark, tmp_table):
    t = _mk(spark, tmp_table, [("r1", f"p{i}", i) for i in range(8)])
    # create file churn: 5 single-row CoW commits into the same buckets
    for e in range(5):
        one = t.read(spark).filter(F.col("path") == f"p{e}").withColumn(
            "v", F.col("v") + 100
        )
        t.commit(t.with_bucket(one).unionByName(
            t.with_bucket(t.read(spark)).join(
                t.with_bucket(one).select("repo", "path"), ["repo", "path"], "left_anti"
            )
        ), replace_buckets=range(4), summary={"epoch": e + 1})
    m = t.manifest()
    n_files_before = sum(len(fs) for fs in m["buckets"].values())
    before = sorted(tuple(r) for r in t.read(spark).collect())

    compacted = t.compact(spark, min_files=1)
    assert compacted  # something was rewritten
    m2 = t.manifest()
    n_files_after = sum(len(fs) for fs in m2["buckets"].values())
    assert n_files_after <= n_files_before
    after = sorted(tuple(r) for r in t.read(spark).collect())
    assert after == before  # logical no-op
    assert m2["summary"].get("epoch") == m["summary"].get("epoch")  # lineage kept
