"""Durable materialized aggregate views maintained from the lake's
change feed (operators/views.py): incremental refresh must land exactly
on a fresh rebuild, survive restarts via the commit-then-pointer
manifest, and fail loudly on parameter drift / rewound tables / expired
history."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.operators import views
from debezium_incubator_spark.operators.views import MaterializedAggView
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
    fresh = _recompute(t, spark)
    assert sorted(map(tuple, mv.read().collect())) == sorted(
        map(tuple, fresh.collect())
    )


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


def test_legacy_state_without_key_cols_resumes(spark, tmp_path):
    """A view state written before key_cols was stamped (hand-written
    manifest without it) resumes under the resolved bucket_cols default,
    gets the stamp on its next commit, and still rejects other keys."""
    import json

    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1), ("r2", "b", 2)])
    _view(spark, tmp_path).build()
    mpath = tmp_path / "view" / f"v{_view(spark, tmp_path).version()}.json"
    m = json.loads(mpath.read_text())
    del m["params"]["key_cols"]
    mpath.write_text(json.dumps(m))

    with pytest.raises(ValueError, match="param mismatch"):
        _view(spark, tmp_path, key_cols=["repo"]).refresh()
    _commit_state(spark, t, [("r1", "a", 5), ("r2", "b", 2)])
    mv = _view(spark, tmp_path, key_cols=list(KEYS))
    assert mv.refresh()["folded_versions"] == 1
    assert sorted(map(tuple, mv.read().select("repo", "sum_v").collect())) == [
        ("r1", 5),
        ("r2", 2),
    ]
    assert mv.meta()["params"]["key_cols"] == KEYS


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


def test_rewound_table_fails_loudly(spark, tmp_path, monkeypatch):
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    _commit_state(spark, t, [("r1", "a", 2)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 2
    monkeypatch.setattr(type(t), "version", lambda self: 1)
    with pytest.raises(RuntimeError, match="BEHIND"):
        mv.refresh()


def test_expired_history_fails_with_recovery_hint(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    for i in range(4):
        _commit_state(spark, t, [("r1", "a", 10 + i)])
    t.expire_versions(keep_last=2)  # versions (1..3] gone
    with pytest.raises(RuntimeError, match="build\\(\\) to re-derive"):
        mv.refresh()
    mv.build()  # recovery: full re-derivation at the current version
    assert mv.meta()["folded_through"] == t.version()
    assert mv.read().collect()[0]["sum_v"] == 13


def test_rename_of_folded_column_in_range_fails_loudly(spark, tmp_path):
    """A rename of a grouped/measured column inside the pending range
    would fold retractions under NULL values — refresh must refuse and
    point at build()."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()
    _commit_state(spark, t, [("r1", "a", 2)])
    t.rename_column("v", "val")
    with pytest.raises(RuntimeError, match="renamed/dropped"):
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
    passes the BEHIND check — the anchor fingerprint must catch it or
    diffs of an unrelated chain fold onto the old view state."""
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
    with pytest.raises(RuntimeError, match="fingerprint|recreated"):
        mv.refresh()
    mv.build()  # recovery re-anchors on the new chain
    assert mv.read().collect()[0]["sum_v"] == 102


def test_chunked_fold_equals_single_apply(spark, tmp_path, monkeypatch):
    """MAX_VERSIONS_PER_APPLY bounds the PLAN, not the math: folding
    1-version chunks must land exactly where one big apply does."""
    monkeypatch.setattr(views, "MAX_VERSIONS_PER_APPLY", 1)
    t = _mk(spark, str(tmp_path / "table"), [(f"r{i % 3}", f"p{i}", i) for i in range(12)])
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    states = [
        [(f"r{i % 3}", f"p{i}", i * 2) for i in range(10)],
        [(f"r{i % 3}", f"p{i}", i * 2) for i in range(8)] + [("r7", "n", 70)],
        [(f"r{i % 3}", f"p{i}", i * 3) for i in range(8)],
    ]
    for s in states:
        _commit_state(spark, t, s)
    out = mv.refresh()
    assert out == {"folded_versions": 3, "folded_through": 4}
    fresh = _recompute(t, spark)
    assert sorted(map(tuple, mv.read().collect())) == sorted(map(tuple, fresh.collect()))


def test_rebuild_with_drifted_params_fails_loudly(spark, tmp_path):
    """build() over an existing view must validate the stamped params —
    a fat-fingered --rebuild must not silently redefine the view under
    every other maintainer/reader."""
    _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    _view(spark, tmp_path).build()
    drifted = _view(spark, tmp_path, group_cols=["path"])
    with pytest.raises(ValueError, match="param mismatch"):
        drifted.build()


def test_expire_protect_through_keeps_view_history(spark, tmp_path):
    """expire_versions(protect_through=) is the consumer-protection
    floor: an aggressive keep_last must not reclaim versions a lagging
    view still needs to fold forward (the changelog GC's lagging-table
    contract, applied to the version chain)."""
    t = _mk(spark, str(tmp_path / "table"), [("r1", "a", 1)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 1
    for i in range(5):
        _commit_state(spark, t, [("r1", "a", 10 + i)])
    # unprotected keep_last=2 would delete v1..v4 and force a rebuild;
    # the floor keeps everything the view still owes
    t.expire_versions(keep_last=2, protect_through=mv.meta()["folded_through"])
    out = mv.refresh()
    assert out == {"folded_versions": 5, "folded_through": 6}
    assert mv.read().collect()[0]["sum_v"] == 14


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
    """A recreated chain sitting at EXACTLY folded_through versions
    passes the BEHIND check and hits the caught-up fast path — the
    anchor must fire there too, not only when folding."""
    import shutil

    tdir = str(tmp_path / "table")
    t = _mk(spark, tdir, [("r1", "a", 1)])
    _commit_state(spark, t, [("r1", "a", 2)])
    mv = _view(spark, tmp_path)
    mv.build()  # folded_through = 2
    shutil.rmtree(tdir)
    t2 = _mk(spark, tdir, [("rX", "z", 100)])
    _commit_state(spark, t2, [("rX", "z", 101)])  # new chain also at v2
    with pytest.raises(RuntimeError, match="fingerprint|recreated"):
        mv.refresh()


def test_refresh_job_budget(spark, tmp_path):
    """The fixed cost of a view refresh is its Spark jobs: one refresh of
    a chunk that dethrones a max (and updates and inserts elsewhere) on
    an extreme-column view runs at most ``budget`` jobs — the fold's one
    materialization, its one dethrone probe, the recompute and the view
    write. The change feed is not materialized on its own, no action
    asks whether anything was retracted, and the stored view is read
    with its recorded schema (no inference job). Counted from the status
    tracker's job ids around the second refresh (the first one warms the
    session)."""
    budget = 9
    rows = [(f"r{i % 4}", f"p{i}", i) for i in range(400)]
    t = _mk(spark, str(tmp_path / "table"), rows)
    mv = _view(spark, tmp_path, extreme_cols=["v"])
    mv.build()
    _commit_state(spark, t, rows[:390])  # deletes every group's max
    mv.refresh()
    # a dethroning chunk: r1's max (p389) is deleted, r0's rows doubled,
    # one new group
    s2 = [(r, p, v * 2 if r == "r0" else v) for r, p, v in rows[:389]]
    _commit_state(spark, t, s2 + [("r9", "new", 7)])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = mv.refresh()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert out == {"folded_versions": 1, "folded_through": 3}
    assert sorted(map(tuple, mv.read().collect())) == sorted(
        map(tuple, _recompute(t, spark).collect())
    )
    assert len(jobs) <= budget, sorted(jobs)
