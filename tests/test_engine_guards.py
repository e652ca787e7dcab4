"""Round-2 engine guards: snapshot modes (SnapshotProcessorTest.java:111-159
invocation-count parity), streaming heartbeat + out-of-order delivery,
num_buckets drift validation, salted CoW write parallelism, lock crash
recovery, corrupt-segment error path, per-table field blacklist."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.table import LakeTable
from debezium_incubator_spark.plans.pipeline import CDCEngine
from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
from debezium_incubator_spark.streaming.stream import OutOfOrderDeliveryError, StreamingCDC
from tests.helpers import mk_events


def _engine(spark, tmp_path, name, **kw):
    e = CDCEngine(
        spark, str(tmp_path / name / "t"), str(tmp_path / name / "c"),
        num_buckets=4, **kw,
    )
    e.create_target()
    return e


# --------------------------------------------------------- snapshot modes

def test_snapshot_mode_initial_runs_once(spark, tmp_path):
    """SnapshotProcessorTest.testSnapshotModeInitial: process() twice →
    snapshot taken exactly once."""
    src = gen_source_table(spark, n_keys=40, n_repos=4)
    e = _engine(spark, tmp_path, "init", snapshot_mode="initial")
    e.bootstrap(src)
    v1 = e.table.version()
    e.bootstrap(src)  # second call must be a no-op
    assert e.table.version() == v1
    assert e.store.latest()["phase"] == "stream"


def test_snapshot_mode_always_reapplies(spark, tmp_path):
    """testSnapshotModeAlways: every process() re-snapshots; the re-read
    is current source state, so changed rows overwrite."""
    src = gen_source_table(spark, n_keys=40, n_repos=4)
    e = _engine(spark, tmp_path, "alw", snapshot_mode="always")
    e.bootstrap(src)
    v1 = e.table.version()
    src2 = src.withColumn("lang", F.lit("zz"))
    e.bootstrap(src2)
    assert e.table.version() > v1  # a second snapshot epoch committed
    langs = {r["lang"] for r in e.final_state().select("lang").distinct().collect()}
    assert langs == {"zz"}


def test_snapshot_mode_never_skips(spark, tmp_path):
    """testSnapshotModeNever: no snapshot ever; phase flips to stream so
    the changelog can apply immediately."""
    src = gen_source_table(spark, n_keys=40, n_repos=4)
    e = _engine(spark, tmp_path, "nev", snapshot_mode="never")
    ck = e.bootstrap(src)
    assert ck["phase"] == "stream"
    assert e.table.version() == 0  # nothing committed
    assert e.final_state().count() == 0
    with pytest.raises(ValueError):
        CDCEngine(spark, "x", "y", snapshot_mode="bogus")


# --------------------------------------------------------- streaming guards

def test_streaming_empty_batch_heartbeats(spark, tmp_path):
    """K5 parity: an idle micro-batch advances the epoch/checkpoint
    WITHOUT a table commit (streaming path used to return early)."""
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    e = _engine(spark, tmp_path, "hb")
    e.bootstrap(src)
    epoch0 = e.store.latest()["epoch"]
    v0 = e.table.version()
    s = StreamingCDC(e, str(tmp_path / "nolog"), str(tmp_path / "sck"))
    empty = mk_events(spark, [])
    s._apply_batch(empty, 0)
    assert e.store.latest()["epoch"] == epoch0 + 1  # heartbeat advanced
    assert e.table.version() == v0  # no table commit


def test_streaming_before_bootstrap_raises(spark, tmp_path):
    """Streaming into a never-bootstrapped table raises (as run() and the
    orchestrator do) instead of flipping it to phase 'stream' — which
    made a later INITIAL bootstrap() skip the snapshot base for good."""
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    log = gen_changelog(spark, n_keys=30, n_repos=3, n_slots=20)
    e = _engine(spark, tmp_path, "noboot")
    s = StreamingCDC(e, str(tmp_path / "nolog0"), str(tmp_path / "sck0"))
    with pytest.raises(RuntimeError, match="bootstrap"):
        s._apply_batch(log, 0)
    assert e.store.latest()["phase"] == "snapshot"
    e.bootstrap(src)
    assert e.final_state().count() == 30  # the snapshot base applied
    s._apply_batch(log, 1)
    assert e.store.latest()["counters"]["events_in"] == 30 + log.count()


def test_streaming_out_of_order_batch_raises(spark, tmp_path):
    """ADVICE r1: a batch mixing never-applied offsets at-or-below the
    checkpointed stream position with new ones means file order != offset
    order — fail loudly instead of silently dropping the low offsets."""
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    log = gen_changelog(spark, n_keys=30, n_repos=3, n_slots=100)
    e = _engine(spark, tmp_path, "ooo")
    e.bootstrap(src)
    s = StreamingCDC(e, str(tmp_path / "nolog2"), str(tmp_path / "sck2"))
    first = log.filter((F.col("offset") >= 200) & (F.col("offset") < 300))
    s._apply_batch(first, 0)
    assert 200 <= int(e.store.latest()["stream_pos"]) < 300
    mixed = log  # contains offsets < 200 never applied + some already seen
    with pytest.raises(OutOfOrderDeliveryError):
        s._apply_batch(mixed, 1)
    # a pure (byte-identical) redelivery is absorbed, not an error
    s._apply_batch(first.filter(F.col("offset") <= 250), 2)


def test_streaming_filtered_out_batch_advances_stream_pos(spark, tmp_path):
    """A micro-batch whose rows are ALL prefiltered out (a system repo, a
    null key) commits nothing to the table but still moves stream_pos to
    its raw top: the stream's bounds come from the unfiltered batch."""
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    e = _engine(spark, tmp_path, "filtered")
    e.bootstrap(src)
    epoch0 = e.store.latest()["epoch"]
    v0 = e.table.version()
    s = StreamingCDC(e, str(tmp_path / "nolog3"), str(tmp_path / "sck3"))
    after = {"commit": "c", "lang": "py", "content": "x"}
    batch = mk_events(
        spark,
        [
            {"offset": 500, "op": "c", "repo": "_system/meta", "path": "a", "after": after},
            {"offset": 501, "op": "c", "repo": None, "path": "b", "after": after},
            {"offset": 507, "op": "u", "repo": "_system/meta", "path": "a", "after": after},
        ],
    )
    s._apply_batch(batch, 0)
    ck = e.store.latest()
    assert int(ck["stream_pos"]) == 507
    assert ck["epoch"] == epoch0 + 1
    assert e.table.version() == v0  # no table commit


def test_streaming_broadcast_anti_batch_job_budget(spark, tmp_path):
    """The fixed cost of a small epoch is its Spark jobs: one ~100-event
    broadcast-anti micro-batch runs at most 6 — one stats collect, then
    the write with its key broadcast. Counted from the status tracker's
    job ids before and after."""
    src = gen_source_table(spark, n_keys=400, n_repos=4)
    log = gen_changelog(spark, n_keys=400, n_repos=4, n_slots=100).localCheckpoint()
    e = _engine(spark, tmp_path, "budget")
    e.bootstrap(src)
    s = StreamingCDC(e, str(tmp_path / "nolog4"), str(tmp_path / "sck4"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    s._apply_batch(log, 0)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    ck = e.store.latest()
    assert ck["counters"]["events_in"] == 400 + log.count()
    assert int(ck["stream_pos"]) == log.agg(F.max("offset")).first()[0]
    assert len(jobs) <= 6, sorted(jobs)


def test_num_buckets_drift_fails_loudly(spark, tmp_path):
    """ADVICE r1: an engine attached with a different --num-buckets than
    the table manifest must not silently mis-filter."""
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    log = gen_changelog(spark, n_keys=30, n_repos=3, n_slots=50)
    e = _engine(spark, tmp_path, "drift")
    e.bootstrap(src)
    e2 = CDCEngine(
        spark, str(tmp_path / "drift" / "t"), str(tmp_path / "drift" / "c"),
        num_buckets=16,
    )
    with pytest.raises(ValueError, match="num_buckets mismatch"):
        e2.apply_epoch(log)


# --------------------------------------------------------- lake guards

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def test_cow_write_tasks_splits_large_bucket(spark, tmp_path):
    """VERDICT r1 #3: with write_tasks >> touched buckets, a big bucket is
    written by many tasks → multiple files per bucket in the manifest,
    identical read-back."""
    t = LakeTable.create(str(tmp_path / "wt"), SCHEMA, bucket_cols=["repo", "path"], num_buckets=2)
    rows = [(f"r{i % 3}", f"p{i}", i) for i in range(4000)]
    df = t.with_bucket(spark.createDataFrame(rows, SCHEMA))
    t.commit(df, replace_buckets=[0, 1], summary={"epoch": 0}, write_tasks=8)
    m = t.manifest()
    files_per_bucket = {b: len(fs) for b, fs in m["buckets"].items()}
    assert max(files_per_bucket.values()) > 1, files_per_bucket
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(rows)


def test_stale_empty_lock_is_recovered(spark, tmp_path):
    """ADVICE r1: an empty LOCK file (writer died pre-pid-write) parses to
    pid 0 — must be treated as dead, not os.kill(0,...)-alive-forever."""
    t = LakeTable.create(str(tmp_path / "lk"), SCHEMA, bucket_cols=["repo", "path"], num_buckets=2)
    open(os.path.join(t.meta_dir, "LOCK"), "w").close()  # empty pid
    df = t.with_bucket(spark.createDataFrame([("a", "b", 1)], SCHEMA))
    t.commit(df, replace_buckets=[0, 1], summary={"epoch": 0})  # must not raise
    assert t.version() == 1


def test_corrupt_changelog_segment_goes_to_error_dir(spark, tmp_path):
    """QueueProcessor.java:98-102 parity: EOF/footer failure moves the
    segment to _error/ with a counter, instead of silently skipping it
    forever."""
    from debezium_incubator_spark.sources.gc import expire_changelog_files

    d = tmp_path / "chlog"
    d.mkdir()
    spark.range(5).select(F.col("id").alias("offset")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "seg0"))
    # flatten: move the real parquet up, then plant a corrupt file
    import shutil

    real = next(p for p in (d / "seg0").iterdir() if p.name.endswith(".parquet"))
    shutil.move(str(real), str(d / "seg0.parquet"))
    shutil.rmtree(str(d / "seg0"))
    (d / "corrupt.parquet").write_bytes(b"not a parquet file")
    # grace protects mid-write segments: the freshly-planted corrupt file
    # is skipped on the first pass (the good segment archives normally)
    c1 = {}
    moved = expire_changelog_files(str(d), 100, counters=c1)
    assert moved == ["seg0.parquet"] and c1 == {"archived": 1, "errors": 0}
    assert not (d / "_error").exists()
    # first sighting is persisted; a file NEVER seen unreadable before is
    # never quarantined in one pass, however old its mtime (a stalled
    # writer's large in-progress segment must not be yanked)
    assert (d / "_gc_state.json").exists()
    (d / "stalled.parquet").write_bytes(b"also not parquet")
    os.utime(str(d / "stalled.parquet"), (0, 0))  # ancient mtime
    c15 = {}
    expire_changelog_files(str(d), 100, counters=c15, error_grace_s=0.0)
    # corrupt.parquet: second sighting past grace → quarantined;
    # stalled.parquet: first sighting → only recorded
    assert c15 == {"archived": 0, "errors": 1}
    assert (d / "_error" / "corrupt.parquet").exists()
    assert (d / "stalled.parquet").exists()
    # ...and the stalled one goes on ITS second sighting past the grace
    c2 = {}
    expire_changelog_files(str(d), 100, counters=c2, error_grace_s=0.0)
    assert c2 == {"archived": 0, "errors": 1}
    assert (d / "_error" / "stalled.parquet").exists()
    assert (d / "_archive" / "seg0.parquet").exists()

    # reprocess_errors: an operator REPAIRS corrupt.parquet in place —
    # only now-readable segments return, and they land in _archive/
    # (served to out-of-band catch-ups, invisible to the live stream:
    # their offsets are already below the marks); still-corrupt stay put
    from debezium_incubator_spark.sources.gc import reprocess_errors

    spark.range(3).select(F.col("id").alias("offset")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "fix"))
    fixed = next(p for p in (d / "fix").iterdir() if p.name.endswith(".parquet"))
    shutil.move(str(fixed), str(d / "_error" / "corrupt.parquet"))
    shutil.rmtree(str(d / "fix"))
    back = reprocess_errors(str(d))
    assert back == ["corrupt.parquet"]
    assert (d / "_archive" / "corrupt.parquet").exists()
    assert not (d / "corrupt.parquet").exists()
    assert (d / "_error" / "stalled.parquet").exists()  # still unreadable


def test_per_table_field_blacklist(spark):
    """FieldFilterSelector.java:28-50: keyspace.table.field-scoped
    blacklist — 'org/app.content' scrubs content only for org/app."""
    from debezium_incubator_spark.operators.filters import drop_envelope_fields

    ev = mk_events(
        spark,
        [
            {"offset": 1, "op": "c", "repo": "org/app", "path": "a.py",
             "after": {"commit": "c1", "lang": "py", "content": "secret\n"}},
            {"offset": 2, "op": "c", "repo": "org/lib", "path": "b.py",
             "after": {"commit": "c2", "lang": "py", "content": "keep\n"}},
        ],
    )
    out = drop_envelope_fields(ev, ["org/app.content"])
    rows = {r["repo"]: r["after"]["content"] for r in out.collect()}
    assert rows == {"org/app": None, "org/lib": "keep\n"}
    # global entry still scrubs everywhere
    out2 = drop_envelope_fields(ev, ["content"])
    assert {r["after"]["content"] for r in out2.collect()} == {None}


# --------------------------------------------------------- before-image audit

def test_before_image_audit_counter(spark, tmp_path):
    """Opt-in audit compares each key's first-in-batch before-image
    against the committed table state (≙ before/after pair assertions,
    OracleConnectorIT.java:369-456): consistent generator stream → 0
    mismatches; a doctored before-image → counted, and the epoch still
    applies (audit, not a gate)."""
    from debezium_incubator_spark.sources.changelog import DataFrameChangelog

    eng = _engine(spark, tmp_path, "audit", audit_before=True)
    src = gen_source_table(spark, n_keys=50, n_repos=4)
    eng.bootstrap(src)
    log = gen_changelog(spark, n_keys=50, n_repos=4, n_slots=100)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=150)
    m = eng.metrics()
    assert m["counters"]["before_image_mismatch"] == 0
    assert m["counters"]["events_in"] > 0

    row = eng.final_state().filter(F.col("content_sha256").isNotNull()).first()
    top = int(log.agg(F.max("offset")).first()[0])
    bad = mk_events(
        spark,
        [
            {
                "offset": top + 10,
                "op": "u",
                "repo": row["repo"],
                "path": row["path"],
                "before": {"commit": "x", "lang": row["lang"], "content": "WRONG\n"},
                "after": {"commit": "y", "lang": row["lang"], "content": "new body\n"},
            }
        ],
    )
    eng.apply_epoch(bad)
    m2 = eng.metrics()
    assert m2["counters"]["before_image_mismatch"] == 1
    # the mismatched update still applied (LWW wins by offset)
    got = (
        eng.final_state()
        .filter((F.col("repo") == row["repo"]) & (F.col("path") == row["path"]))
        .first()
    )
    assert got["commit"] == "y"


def test_audit_and_apply_share_one_guarded_frame(spark, tmp_path, monkeypatch):
    """VERDICT r3 #6: with audit_before on, the replay guard
    (filter_processed) is built ONCE per epoch and shared by the audit
    and the apply path — not constructed twice."""
    from debezium_incubator_spark.plans import pipeline as pl
    from debezium_incubator_spark.sources.changelog import DataFrameChangelog

    eng = _engine(spark, tmp_path, "audit_share", audit_before=True)
    src = gen_source_table(spark, n_keys=30, n_repos=3)
    eng.bootstrap(src)
    log = gen_changelog(spark, n_keys=30, n_repos=3, n_slots=60)

    calls = {"n": 0}
    real = pl.filter_processed

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(pl, "filter_processed", counting)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=10**6)  # one epoch
    assert calls["n"] == 1
    assert eng.metrics()["counters"]["before_image_mismatch"] == 0
