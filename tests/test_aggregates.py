"""Aggregate-view edge cases on the served incremental path: a
MaterializedAggView (operators/views.py) refreshed across commits must
equal a full recompute, with exact values, when a group vanishes (NULL
groups included), a key migrates between groups, a group's max is
deleted, or a key is inserted and deleted between two refreshes."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable
from debezium_incubator_spark.operators.merge import merge_upsert
from debezium_incubator_spark.operators.views import MaterializedAggView, agg_view
from tests.helpers import commit_full_state, mk_lake_table

GRP, MEAS, EXT = ["g"], ["cents"], ["cents"]
SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("g", T.StringType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _state(spark, rows):
    """rows: (k, g, cents)"""
    return spark.createDataFrame(rows, SCHEMA)


def _pdf(df):
    return [list(r) for r in df.orderBy("g").collect()]


def _built(spark, tmp_path, rows):
    """A table keyed and bucketed on ``k`` holding ``rows``, and a built
    view over it."""
    t = mk_lake_table(spark, str(tmp_path / "table"), rows, SCHEMA, keys=["k"])
    mv = MaterializedAggView(spark, str(tmp_path / "view"), t.path, GRP, MEAS, EXT)
    mv.build()
    return t, mv


def _refreshed(spark, t, mv, *states):
    """Commit each full table state in turn, refresh once, and return the
    view, checked against a full recompute."""
    for rows in states:
        commit_full_state(spark, t, rows, SCHEMA)
    mv.refresh()
    out = _pdf(mv.read())
    assert out == _pdf(agg_view(t.read(spark), GRP, MEAS, EXT))
    return out


def test_full_rebuild(spark):
    view = agg_view(_state(spark, [(1, "a", 10), (2, "a", 5), (3, "b", 7)]), GRP, MEAS, EXT)
    assert _pdf(view) == [["a", 2, 15, 5, 10], ["b", 1, 7, 7, 7]]


def test_apply_insert_update_delete(spark, tmp_path):
    t, mv = _built(spark, tmp_path, [(1, "a", 10), (2, "a", 5), (3, "b", 7)])
    # key 1 updated 10→20 (stays in a), key 3 deleted, key 4 inserted
    # into the new group c: b vanishes, a's sum is 25 and its extremes
    # (5, 20)
    got = _refreshed(spark, t, mv, [(1, "a", 20), (2, "a", 5), (4, "c", 3)])
    assert got == [["a", 2, 25, 5, 20], ["c", 1, 3, 3, 3]]


def test_group_migration_on_update(spark, tmp_path):
    """An update that MOVES a key between groups leaves the old group and
    joins the new one."""
    t, mv = _built(spark, tmp_path, [(1, "a", 10), (2, "b", 5)])
    assert _refreshed(spark, t, mv, [(1, "b", 10), (2, "b", 5)]) == [["b", 2, 15, 5, 10]]


def test_retracted_extreme_recomputes(spark, tmp_path):
    """Deleting the group max must fall back to the runner-up — the case
    pure delta maintenance gets wrong."""
    t, mv = _built(spark, tmp_path, [(1, "a", 10), (2, "a", 99), (3, "a", 5)])
    assert _refreshed(spark, t, mv, [(1, "a", 10), (3, "a", 5)]) == [["a", 2, 15, 5, 10]]


def test_untouched_groups_pass_through_without_state_scan(spark, tmp_path, monkeypatch):
    """An insert into one bucket re-reads that bucket alone; the other
    buckets' groups pass through from their stored partials."""
    t, mv = _built(spark, tmp_path, [(1, "a", 10), (2, "b", 5)])
    bucket = {
        r["k"]: r[BUCKET_COL]
        for r in t.with_bucket(_state(spark, [(k, "b", 1) for k in range(1, 20)])).collect()
    }
    k = next(k for k in range(3, 20) if bucket[k] not in (bucket[1], bucket[2]))
    b = bucket[k]
    rows = t.read(spark, buckets=[b]).unionByName(_state(spark, [(k, "b", 1)]))
    t.commit(t.with_bucket(rows), replace_buckets=[b], summary={})

    seen, real = [], LakeTable.read

    def spy(self, spark, version=None, buckets=None, columns=None):
        seen.append(None if buckets is None else sorted(buckets))
        return real(self, spark, version=version, buckets=buckets, columns=columns)

    monkeypatch.setattr(LakeTable, "read", spy)
    mv.refresh()
    assert seen == [[b]]
    monkeypatch.undo()
    assert _pdf(mv.read()) == [["a", 1, 10, 10, 10], ["b", 2, 6, 1, 5]]


def test_multi_epoch_fold_matches_rebuild(spark, tmp_path):
    """A generated keyed change sequence merged in three epochs, the view
    built after the first and refreshed after each later one, equals the
    full rebuild after every epoch (long accumulators — no float drift by
    construction)."""
    ev = spark.range(600).select(
        F.pmod(F.col("id") * 7 + 3, F.lit(41)).cast("int").alias("k"),
        F.concat(F.lit("g"), F.pmod(F.xxhash64("id", F.lit("grp")), F.lit(6))).alias("g"),
        F.pmod(F.xxhash64("id", F.lit("m")), F.lit(1000)).alias("cents"),
        F.col("id").alias("off"),
        F.when(F.pmod(F.xxhash64("id", F.lit("op")), F.lit(6)) == 0, "d")
        .otherwise("u")
        .alias("op"),
    )
    t = LakeTable.create(str(tmp_path / "table"), SCHEMA, bucket_cols=["k"], num_buckets=4)
    mv = MaterializedAggView(spark, str(tmp_path / "view"), t.path, GRP, MEAS, EXT)
    for lo, hi in [(0, 200), (200, 400), (400, 600)]:
        merge_upsert(t, ev.filter((F.col("off") >= lo) & (F.col("off") < hi)), ["k"], ["off"])
        if mv.version():
            mv.refresh()
        else:
            mv.build()
        assert _pdf(mv.read()) == _pdf(agg_view(t.read(spark), GRP, MEAS, EXT))


def test_null_group_value_folds_and_vanishes(spark, tmp_path):
    """NULL is a legitimate group value (groupBy keeps it); when its last
    key is deleted the NULL group leaves the view like any other."""
    t, mv = _built(spark, tmp_path, [(1, None, 10), (2, "a", 5)])
    assert len(_pdf(mv.read())) == 2
    assert _refreshed(spark, t, mv, [(2, "a", 5)]) == [["a", 1, 5, 5, 5]]


def test_telescoped_insert_then_retract_dethrones(spark, tmp_path):
    """A key inserted as the group's new max and deleted again before the
    next refresh leaves no phantom extreme."""
    t, mv = _built(spark, tmp_path, [(2, "a", 3)])
    got = _refreshed(spark, t, mv, [(1, "a", 5), (2, "a", 3)], [(2, "a", 3)])
    assert got == [["a", 1, 3, 3, 3]]
