"""Durable materialized aggregate views kept as per-bucket partials
(operators/views.py): a refresh must land exactly on a full recompute on
every path (changed buckets, emptied buckets, schema changes, rewound,
recreated or expired tables), read only the buckets whose files changed,
survive restarts via the commit-then-pointer manifest, and fail loudly
on parameter drift or a renamed folded column."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.table import LakeTable
from debezium_incubator_spark.operators.views import MaterializedAggView, agg_view
from tests.helpers import commit_full_state, mk_lake_table

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)
KEYS = ["repo", "path"]


def _mk(spark, path, rows):
    return mk_lake_table(spark, path, rows, SCHEMA, keys=KEYS)


def _commit_state(spark, t, rows):
    commit_full_state(spark, t, rows, SCHEMA)


def _view(spark, tmp_path, **kw):
    kw.setdefault("group_cols", ["repo"])
    kw.setdefault("measure_cols", ["v"])
    return MaterializedAggView(
        spark, str(tmp_path / "view"), str(tmp_path / "table"), **kw
    )


def _recompute(t, spark):
    return (
        t.read(spark)
        .groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )


def _assert_recomputed(mv, t, spark):
    got = mv.read()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, _recompute(t, spark).select(*got.columns).collect())
    )


def _spy_reads(monkeypatch):
    """Record the ``buckets`` argument of every LakeTable.read."""
    seen = []
    real = LakeTable.read

    def spy(self, spark, version=None, buckets=None, columns=None):
        seen.append(None if buckets is None else sorted(buckets))
        return real(self, spark, version=version, buckets=buckets, columns=columns)

    monkeypatch.setattr(LakeTable, "read", spy)
    return seen


def _jobs_during(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, set(tracker.getJobIdsForGroup(None)) - before


def test_refresh_lands_on_rebuild_fixpoint(spark, tmp_path):
    rows0 = [(f"r{i % 3}", f"p{i}", i) for i in range(30)]
    t = _mk(spark, str(tmp_path / "table"), rows0)
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    assert mv.meta()["folded_through"] == 1

    # batch 1: updates + deletes + a brand-new group
    s1 = [(f"r{i % 3}", f"p{i}", i * 10) for i in range(5)] + [
        (f"r{i % 3}", f"p{i}", i) for i in range(5, 28)
    ] + [("r9", "new1", 1000)]
    _commit_state(spark, t, s1)
    # batch 2: delete one key, add another — folded in the SAME refresh
    s2 = [r for r in s1 if r[1] != "p3"] + [("r9", "new2", 2000)]
    _commit_state(spark, t, s2)

    out = mv.refresh()
    assert out == {"folded_versions": 2, "folded_through": 3}
    _assert_recomputed(mv, t, spark)


def test_noop_refresh_commits_nothing(spark, tmp_path):
    _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    v = mv.version()
    assert mv.refresh() == {"folded_versions": 0, "folded_through": 1}
    assert mv.version() == v  # no empty commit


def test_group_vanishes_when_count_hits_zero(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1), ("r2", "b", 2)])
    mv = _view(spark, tmp_path)
    mv.build()
    _commit_state(spark, t, [("r2", "b", 2)])  # r1's only row deleted
    mv.refresh()
    assert [r["repo"] for r in mv.read().collect()] == ["r2"]


def test_param_drift_fails_loudly(spark, tmp_path):
    _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    _view(spark, tmp_path).build()
    drifted = _view(spark, tmp_path, group_cols=["path"])
    with pytest.raises(ValueError, match="param mismatch"):
        drifted.refresh()


def test_old_layout_state_rebuilt_by_first_refresh(spark, tmp_path, monkeypatch):
    """A state written before the per-bucket record existed (one row per
    group, a manifest with ``key_cols`` and ``anchor_sha`` but no bucket
    record) is rebuilt by its first refresh: every bucket is read and the
    view equals a full recompute."""
    t = _mk(spark, str(tmp_path / "table"), [(f"r{i % 3}", f"p{i}", i) for i in range(12)])
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    mpath = tmp_path / "view" / f"v{mv.version()}.json"
    m = json.loads(mpath.read_text())
    old_view = agg_view(t.read(spark), ["repo"], ["v"], ["v"])
    mv.state.write(old_view, m["view"])
    del m["bucket_files"], m["fields"]
    m["anchor_sha"] = "0" * 64
    m["params"]["key_cols"] = list(KEYS)
    mpath.write_text(json.dumps(m))

    _commit_state(spark, t, [(f"r{i % 3}", f"p{i}", i) for i in range(11)])
    reads = _spy_reads(monkeypatch)
    assert mv.refresh() == {"folded_versions": 1, "folded_through": 2}
    assert reads == [sorted(int(b) for b in t.manifest()["buckets"])]
    assert "bucket_files" in mv.meta()
    _assert_recomputed(mv, t, spark)


def test_state_without_recorded_schema_stays_readable(spark, tmp_path):
    """A view state dir written before the schema record existed is read
    by inference; the next commit records its schema again."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1), ("r2", "b", 2)])
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    rel = tmp_path / "view" / mv.meta()["view"]
    (rel / "_schema.json").unlink()
    assert sorted(map(tuple, mv.read().collect())) == sorted(
        map(tuple, _recompute(t, spark).collect())
    )
    _commit_state(spark, t, [("r1", "a", 5), ("r2", "b", 2)])
    assert mv.refresh()["folded_versions"] == 1
    assert (tmp_path / "view" / mv.meta()["view"] / "_schema.json").exists()
    assert sorted(map(tuple, mv.read().collect())) == sorted(
        map(tuple, _recompute(t, spark).collect())
    )


def test_rewound_table_recomputes(spark, tmp_path, monkeypatch):
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    _commit_state(spark, t, [("r1", "a", 2)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 2
    monkeypatch.setattr(type(t), "version", lambda self: 1)
    assert mv.refresh() == {"folded_versions": 0, "folded_through": 1}
    _assert_recomputed(mv, t, spark)
    assert mv.read().collect()[0]["sum_v"] == 1


def test_expired_history_recomputes(spark, tmp_path):
    """The view reads only the version it pins, so history the table
    expired past ``folded_through`` is not owed."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    for i in range(4):
        _commit_state(spark, t, [("r1", "a", 10 + i)])
    t.expire_versions(keep_last=2)  # versions 1..3 gone
    assert mv.refresh() == {"folded_versions": 4, "folded_through": 5}
    assert mv.read().collect()[0]["sum_v"] == 13
    _assert_recomputed(mv, t, spark)


def test_rename_of_folded_column_in_range_fails_loudly(spark, tmp_path):
    """A rename of a grouped/measured column inside the pending range
    would fold retractions under NULL values — refresh must refuse and
    point at build()."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    _commit_state(spark, t, [("r1", "a", 2)])
    t.rename_column("v", "val")
    with pytest.raises(RuntimeError, match="renamed/dropped.*build\\(\\)"):
        mv.refresh()
    # recovery: a NEW view under the current schema
    mv2 = MaterializedAggView(
        spark, str(tmp_path / "view2"), str(tmp_path / "table"),
        group_cols=["repo"], measure_cols=["val"],
    )
    mv2.build()
    assert mv2.read().collect()[0]["sum_val"] == 2


def test_restart_resumes_from_manifest(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1), ("r2", "b", 2)])
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    _commit_state(spark, t, [("r1", "a", 5), ("r2", "b", 2)])
    mv.refresh()
    # a brand-new instance (fresh process) picks up where it left off
    mv2 = _view(spark, tmp_path, extreme_cols=["v"])
    assert mv2.meta()["folded_through"] == 2
    _commit_state(spark, t, [("r1", "a", 7)])  # r2 deleted
    assert mv2.refresh()["folded_versions"] == 1
    got = {r["repo"]: (r["n_rows"], r["sum_v"]) for r in mv2.read().collect()}
    assert got == {"r1": (1, 7)}
    assert mv2.metrics()["folded_through"] == 3


def test_drop_recreate_caught_by_manifest_fingerprint(spark, tmp_path):
    """A recreated table whose NEW chain advanced past folded_through
    lists different files in every bucket, so the per-bucket file-list
    hashes mark every bucket changed and the view is recomputed from the
    new chain — none of the old table's groups survive."""
    import shutil

    tdir = str(tmp_path / "table")
    t = _mk(spark, tdir, [("r1", "a", 1)])
    _commit_state(spark, t, [("r1", "a", 2)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 2
    shutil.rmtree(tdir)
    t2 = _mk(spark, tdir, [("rX", "z", 100)])
    for i in range(3):  # advance the NEW chain past folded_through
        _commit_state(spark, t2, [("rX", "z", 100 + i)])
    assert mv.refresh() == {"folded_versions": 2, "folded_through": 4}
    assert [(r["repo"], r["sum_v"]) for r in mv.read().collect()] == [("rX", 102)]
    _assert_recomputed(mv, t2, spark)


def test_rebuild_with_drifted_params_fails_loudly(spark, tmp_path):
    """build() over an existing view must validate the stamped params —
    a fat-fingered --rebuild must not silently redefine the view under
    every other maintainer/reader."""
    _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    _view(spark, tmp_path).build()
    drifted = _view(spark, tmp_path, group_cols=["path"])
    with pytest.raises(ValueError, match="param mismatch"):
        drifted.build()


def test_follow_drains_and_tails(spark, tmp_path):
    """follow(): drain mode returns once caught up; with run_until it
    keeps polling and folds versions committed BETWEEN refreshes."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    _commit_state(spark, t, [("r1", "a", 2)])
    # drain: folds the pending version, then one caught-up pass, returns
    stats = mv.follow(poll_interval_s=0.1)
    assert stats["folded_versions"] == 1 and stats["folded_through"] == 2

    # tail: the stop callback commits a new version after the first
    # refresh — the NEXT poll must fold it before the loop stops
    seen = []

    def stop(s):
        seen.append(dict(s))
        if len(seen) == 1:
            _commit_state(spark, t, [("r1", "a", 7)])
            return False
        return s["folded_versions"] >= 1

    stats = mv.follow(poll_interval_s=0.1, run_until=stop)
    assert stats["folded_through"] == 3
    assert mv.read().collect()[0]["sum_v"] == 7


def test_recreated_at_same_version_not_reported_caught_up(spark, tmp_path):
    """A recreated chain sitting at EXACTLY folded_through versions is
    not "caught up": its files differ, so the view is recomputed."""
    import shutil

    tdir = str(tmp_path / "table")
    t = _mk(spark, tdir, [("r1", "a", 1)])
    _commit_state(spark, t, [("r1", "a", 2)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 2
    v = mv.version()
    shutil.rmtree(tdir)
    t2 = _mk(spark, tdir, [("rX", "z", 100)])
    _commit_state(spark, t2, [("rX", "z", 101)])  # new chain also at v2
    assert mv.refresh() == {"folded_versions": 0, "folded_through": 2}
    assert mv.version() == v + 1
    _assert_recomputed(mv, t2, spark)


def test_refresh_reads_only_changed_buckets(spark, tmp_path, monkeypatch):
    """A commit that rewrites one bucket makes the refresh read exactly
    that bucket, once, at the pinned version."""
    rows = [(f"r{i % 3}", f"p{i}", i) for i in range(40)]
    t = _mk(spark, str(tmp_path / "table"), rows)
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    b = 2
    bumped = t.read(spark, buckets=[b]).withColumn("v", F.col("v") * 100)
    t.commit(t.with_bucket(bumped), replace_buckets=[b], summary={})
    reads = _spy_reads(monkeypatch)
    assert mv.refresh() == {"folded_versions": 1, "folded_through": 2}
    assert reads == [[b]]
    _assert_recomputed(mv, t, spark)


def test_folded_column_dropped_and_readded_recomputes(spark, tmp_path):
    """Dropping a folded column and adding one back under the same name
    gives it a new field id: the old files read NULL for it, although no
    bucket's file list changed — every bucket must be recomputed."""
    t = _mk(spark, str(tmp_path / "table"), [(f"r{i % 3}", f"p{i}", i) for i in range(12)])
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    t.drop_column("v")
    t.add_column("v", "bigint")
    assert mv.refresh() == {"folded_versions": 2, "folded_through": 3}
    got = mv.read().collect()
    assert {r["sum_v"] for r in got} == {None}
    _assert_recomputed(mv, t, spark)


def test_emptied_bucket_drops_its_groups(spark, tmp_path):
    """A bucket that deletes empty vanishes from the table manifest; its
    groups must leave the view with it."""
    t = _mk(spark, str(tmp_path / "table"), [(f"r{i}", f"p{i}", i) for i in range(12)])
    mv = _view(spark, tmp_path)
    mv.build()
    b = 1
    gone = {r["repo"] for r in t.read(spark, buckets=[b]).collect()}
    assert gone
    t.commit(t.with_bucket(t.read(spark, buckets=[b]).limit(0)), replace_buckets=[b], summary={})
    assert str(b) not in t.manifest()["buckets"]
    mv.refresh()
    assert not gone & {r["repo"] for r in mv.read().collect()}
    _assert_recomputed(mv, t, spark)


def test_add_column_advances_without_spark_job(spark, tmp_path):
    """A commit that changes no file and no folded column advances
    ``folded_through`` by a manifest-only commit."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1), ("r2", "b", 2)])
    mv = _view(spark, tmp_path)
    mv.build()
    v, view_dir = mv.version(), mv.meta()["view"]
    t.add_column("note", "string")
    out, jobs = _jobs_during(spark, mv.refresh)
    assert out == {"folded_versions": 1, "folded_through": 2}
    assert not jobs, sorted(jobs)
    assert mv.version() == v + 1 and mv.meta()["view"] == view_dir
    _assert_recomputed(mv, t, spark)


def test_metrics_versions_behind(spark, tmp_path):
    """``metrics()`` reports the view's lag in table versions from the
    manifests alone."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    _commit_state(spark, t, [("r1", "a", 2)])
    _commit_state(spark, t, [("r1", "a", 3)])
    m, jobs = _jobs_during(spark, mv.metrics)
    assert m["versions_behind"] == 2
    assert not jobs, sorted(jobs)
    mv.refresh()
    assert mv.metrics()["versions_behind"] == 0


def test_refresh_job_budget(spark, tmp_path):
    """The fixed cost of a view refresh is its Spark jobs: one refresh
    that deletes a group's max (and updates and inserts elsewhere) on an
    extreme-column view runs at most ``budget`` jobs — the changed
    buckets' aggregate exchange and the state write. There is no change
    feed, fold or dethrone scan, and the stored partials are read with
    their recorded schema (no inference job). Counted from the status
    tracker's job ids around the second refresh (the first one warms the
    session)."""
    budget = 2
    rows = [(f"r{i % 4}", f"p{i}", i) for i in range(400)]
    t = _mk(spark, str(tmp_path / "table"), rows)
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    _commit_state(spark, t, rows[:390])  # deletes every group's max
    mv.refresh()
    # r1's max (p389) is deleted, r0's rows doubled, one new group
    s2 = [(r, p, v * 2 if r == "r0" else v) for r, p, v in rows[:389]]
    _commit_state(spark, t, s2 + [("r9", "new", 7)])
    out, jobs = _jobs_during(spark, mv.refresh)
    assert out == {"folded_versions": 1, "folded_through": 3}
    _assert_recomputed(mv, t, spark)
    assert len(jobs) <= budget, sorted(jobs)
