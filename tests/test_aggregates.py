"""Incremental aggregate-view maintenance (operators/aggregates.py)."""

from pyspark.sql import functions as F

from debezium_incubator_spark.operators.aggregates import agg_view, agg_view_apply

GRP, MEAS, EXT = ["g"], ["cents"], ["cents"]


def _state(spark, rows):
    """rows: (k, g, cents)"""
    return spark.createDataFrame(rows, "k int, g string, cents long")


def _pdf(df):
    return df.orderBy("g").toPandas().values.tolist()


def test_full_rebuild(spark):
    view = agg_view(_state(spark, [(1, "a", 10), (2, "a", 5), (3, "b", 7)]), GRP, MEAS, EXT)
    assert _pdf(view) == [["a", 2, 15, 5, 10], ["b", 1, 7, 7, 7]]


def test_apply_insert_update_delete(spark):
    old = _state(spark, [(1, "a", 10), (2, "a", 5), (3, "b", 7)])
    view = agg_view(old, GRP, MEAS, EXT)
    # batch effect: key 1 updated 10→20 (stays g=a), key 3 deleted,
    # key 4 inserted into new group c
    inserted = _state(spark, [(1, "a", 20), (4, "c", 3)])
    retracted = _state(spark, [(1, "a", 10), (3, "b", 7)])
    new_state = _state(spark, [(1, "a", 20), (2, "a", 5), (4, "c", 3)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=new_state)
    # group b vanishes (count 0); a's sum retracts 10 and adds 20;
    # min/max of a recomputed from state (5, 20)
    assert _pdf(out) == [["a", 2, 25, 5, 20], ["c", 1, 3, 3, 3]]
    assert _pdf(agg_view(new_state, GRP, MEAS, EXT)) == _pdf(out)


def test_group_migration_on_update(spark):
    """An update that MOVES a key between groups retracts from the old
    group and inserts into the new one."""
    old = _state(spark, [(1, "a", 10), (2, "b", 5)])
    view = agg_view(old, GRP, MEAS)
    inserted = _state(spark, [(1, "b", 10)])
    retracted = _state(spark, [(1, "a", 10)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS)
    assert _pdf(out) == [["b", 2, 15]]


def test_retracted_extreme_recomputes(spark):
    """Deleting the group max must fall back to the runner-up — the
    case pure delta maintenance gets wrong."""
    old = _state(spark, [(1, "a", 10), (2, "a", 99), (3, "a", 5)])
    view = agg_view(old, GRP, MEAS, EXT)
    inserted = _state(spark, [])
    retracted = _state(spark, [(2, "a", 99)])
    new_state = _state(spark, [(1, "a", 10), (3, "a", 5)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=new_state)
    assert _pdf(out) == [["a", 2, 15, 5, 10]]


def test_untouched_groups_pass_through_without_state_scan(spark):
    old = _state(spark, [(1, "a", 10), (2, "b", 5)])
    view = agg_view(old, GRP, MEAS, EXT)
    inserted = _state(spark, [(3, "b", 1)])
    retracted = _state(spark, [])
    new_state = _state(spark, [(1, "a", 10), (2, "b", 5), (3, "b", 1)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=new_state)
    assert _pdf(out) == [["a", 1, 10, 10, 10], ["b", 2, 6, 1, 5]]


def test_multi_epoch_fold_matches_rebuild(spark):
    """Property-ish: fold a generated keyed change sequence in three
    epochs; the maintained view must equal the full rebuild exactly
    (long accumulators — no float drift by construction)."""
    ev = (
        spark.range(600)
        .select(
            F.col("id").alias("off"),
            F.pmod(F.col("id") * 7 + 3, F.lit(41)).cast("int").alias("k"),
            F.concat(F.lit("g"), F.pmod(F.xxhash64("id", F.lit("grp")), F.lit(6))).alias("g"),
            F.pmod(F.xxhash64("id", F.lit("m")), F.lit(1000)).alias("cents"),
            F.when(F.pmod(F.xxhash64("id", F.lit("op")), F.lit(6)) == 0, "d")
            .otherwise("u")
            .alias("op"),
        )
        .localCheckpoint()
    )

    def epoch(lo, hi):
        return ev.filter((F.col("off") >= lo) & (F.col("off") < hi))

    def lww(batch):
        return batch.groupBy("k").agg(
            F.max_by(F.struct("g", "cents", "op"), F.col("off")).alias("s")
        ).select("k", "s.g", "s.cents", "s.op")

    state = lww(epoch(0, 200)).where(F.col("op") != "d").drop("op").localCheckpoint()
    view = agg_view(state, GRP, MEAS, EXT).localCheckpoint()
    for lo, hi in [(200, 400), (400, 600)]:
        latest = lww(epoch(lo, hi)).localCheckpoint()
        retracted = state.join(latest.select("k"), "k", "semi")
        survivors = state.join(latest.select("k"), "k", "anti")
        inserted = latest.where(F.col("op") != "d").drop("op")
        state = survivors.unionByName(inserted).localCheckpoint()
        view = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=state)
    assert _pdf(view) == _pdf(agg_view(state, GRP, MEAS, EXT))


def test_null_group_value_folds_and_vanishes(spark):
    """NULL is a legitimate group value (groupBy keeps it); the
    view↔delta joins must be null-safe or the NULL group's stale view
    row survives every retraction forever (review r5-7 #2)."""
    old = _state(spark, [(1, None, 10), (2, "a", 5)])
    view = agg_view(old, GRP, MEAS, EXT)
    assert len(_pdf(view)) == 2
    inserted = _state(spark, [])
    retracted = _state(spark, [(1, None, 10)])
    new_state = _state(spark, [(2, "a", 5)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=new_state)
    assert _pdf(out) == _pdf(agg_view(new_state, GRP, MEAS, EXT))
    assert len(_pdf(out)) == 1  # the NULL group is GONE, not stale


def test_telescoped_insert_then_retract_dethrones(spark):
    """A multi-version fold can insert a value and retract it in the
    SAME batch: the retraction must be compared against the CANDIDATE
    extremes (view ⊕ inserts), not the view's — else the phantom insert
    survives as the max (review r5-7 follow-on)."""
    view = agg_view(_state(spark, []), GRP, MEAS, EXT)
    inserted = _state(spark, [(1, "a", 5), (2, "a", 3)])
    retracted = _state(spark, [(1, "a", 5)])  # 5 never in any state
    new_state = _state(spark, [(2, "a", 3)])
    out = agg_view_apply(view, inserted, retracted, GRP, MEAS, EXT, state=new_state)
    assert _pdf(out) == [["a", 1, 3, 3, 3]]


def test_append_only_fold_needs_no_state(spark):
    """state=None is the append-only contract: inserts extend min/max
    algebraically, no table scan in the plan at all."""
    old = _state(spark, [(1, "a", 10)])
    view = agg_view(old, GRP, MEAS, EXT)
    inserted = _state(spark, [(2, "a", 99), (3, "b", 1)])
    out = agg_view_apply(view, inserted, _state(spark, []), GRP, MEAS, EXT, state=None)
    assert _pdf(out) == [["a", 2, 109, 10, 99], ["b", 1, 1, 1, 1]]


def test_skips_state_scan_when_nothing_dethroned(spark):
    """A retraction that does NOT dethrone any extreme must produce a
    plan with no state join at all — the O(table) scan runs only for
    dethroning batches."""
    old = _state(spark, [(1, "a", 1), (2, "a", 99), (3, "a", 50)])
    view = agg_view(old, GRP, MEAS, EXT)
    retracted = _state(spark, [(3, "a", 50)])  # strictly inside (1, 99)
    new_state = _state(spark, [(1, "a", 1), (2, "a", 99)])
    out = agg_view_apply(
        view, _state(spark, []), retracted, GRP, MEAS, EXT, state=new_state
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan  # state scan skipped entirely
    assert _pdf(out) == [["a", 2, 100, 1, 99]]

    # and a dethroning batch still recomputes correctly
    retracted2 = _state(spark, [(2, "a", 99)])
    out2 = agg_view_apply(
        view, _state(spark, []), retracted2, GRP, MEAS, EXT,
        state=_state(spark, [(1, "a", 1), (3, "a", 50)]),
    )
    assert _pdf(out2) == [["a", 2, 51, 1, 50]]


def test_dethroning_with_no_state_raises(spark):
    """A retraction that dethrones the min with state=None must fail,
    not write a silently stale min: the fold refuses before any job."""
    import pytest

    old = _state(spark, [(1, "a", 10), (2, "a", 99)])
    view = agg_view(old, GRP, MEAS, EXT)
    retracted = _state(spark, [(1, "a", 10)])
    with pytest.raises(RuntimeError, match="supply the post-batch"):
        agg_view_apply(
            view, _state(spark, []), retracted, GRP, MEAS, EXT, state=None
        )


def test_probe_redo_with_no_state_raises_driver_side(spark):
    """The append-only contract is ENFORCED: a retraction that dethrones
    an extreme with state=None is a clean driver-side RuntimeError at
    call time, never silently stale extremes. A retraction strictly
    inside the extremes needs no state."""
    import pytest

    old = _state(spark, [(1, "a", 10), (2, "a", 99), (3, "a", 50)])
    view = agg_view(old, GRP, MEAS, EXT)
    retracted = _state(spark, [(2, "a", 99)])
    with pytest.raises(RuntimeError, match="supply the post-batch"):
        agg_view_apply(
            view, _state(spark, []), retracted, GRP, MEAS, EXT, state=None
        )
    inside = _state(spark, [(3, "a", 50)])
    out = agg_view_apply(view, _state(spark, []), inside, GRP, MEAS, EXT, state=None)
    assert _pdf(out) == [["a", 2, 109, 10, 99]]
