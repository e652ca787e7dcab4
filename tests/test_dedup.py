"""D1/D2 tests: offset-skip precision (≙ FileOffsetWriterTest.java:39-126)
and LWW dedup under out-of-order + duplicate offsets."""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from debezium_incubator_spark.operators.dedup import (
    filter_processed,
    lww_latest,
    lww_latest_window,
    unprocessed_by_table_predicate,
)


def _events(spark):
    rows = [
        # (bucket, offset, key, val) — deliberately out of order + dups
        (0, 5, "k1", "v5"),
        (0, 3, "k1", "v3"),
        (0, 5, "k1", "v5"),   # duplicate replay, same offset+payload
        (0, 9, "k1", "v9"),
        (1, 2, "k2", "w2"),
        (1, 8, "k2", "w8"),
        (1, 8, "k2", "w8"),
        (2, 1, "k3", "x1"),
    ]
    return spark.createDataFrame(rows, "_bucket int, offset long, key string, val string")


def test_filter_processed_per_bucket(spark):
    df = _events(spark)
    # bucket 0 processed through 5, bucket 1 through 1, bucket 2 unmarked
    out = filter_processed(df, {"0": 5, "1": 1}, num_buckets=3)
    got = sorted((r["_bucket"], r["offset"]) for r in out.collect())
    assert got == [(0, 9), (1, 2), (1, 8), (1, 8), (2, 1)]


def test_filter_processed_same_offset_is_processed(spark):
    """≙ FileOffsetWriterTest: record at exactly the stored position is
    'processed' (compareTo <= 0 skips, OffsetPosition.java:46-55)."""
    df = _events(spark)
    out = filter_processed(df, {"0": 9, "1": 8, "2": 1}, num_buckets=3)
    assert out.count() == 0


def test_filter_processed_unmarked_bucket_passes_low_offsets(spark):
    df = _events(spark)
    # bucket 2 has offset 1, below every mark; marks incomplete → must pass
    out = filter_processed(df, {"0": 100, "1": 100}, num_buckets=3)
    assert [(r["_bucket"], r["offset"]) for r in out.collect()] == [(2, 1)]


def test_filter_processed_unmarked_bucket_above_highest_mark(spark):
    """Without num_buckets, a bucket above the highest marked one has no
    mark and passes every offset — the lookup must yield NULL there
    (a plain element_at on a per-bucket array raises under ANSI)."""
    df = _events(spark).unionByName(
        spark.createDataFrame([(7, 0, "k7", "y0")], "_bucket int, offset long, key string, val string")
    )
    out = filter_processed(df, {"0": 5, "1": 1})
    got = sorted((r["_bucket"], r["offset"]) for r in out.collect())
    assert got == [(0, 9), (1, 2), (1, 8), (1, 8), (2, 1), (7, 0)]


@st.composite
def _guard_cases(draw):
    nb = 8
    with_nb = draw(st.booleans())
    # the engine's buckets are always < num_buckets; without it, ids
    # above every mark must pass too
    hi = nb - 1 if with_nb else nb + 3
    marks = draw(st.dictionaries(st.integers(0, nb - 1), st.integers(-3, 20), max_size=nb))
    rows = draw(st.lists(st.tuples(st.integers(0, hi), st.integers(-5, 25)), max_size=30))
    return marks, rows, nb if with_nb else None


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_guard_cases())
def test_filter_processed_matches_python_filter(spark, case):
    marks, rows, nb = case
    df = spark.createDataFrame(rows, "_bucket int, offset long")
    out = filter_processed(df, {str(b): o for b, o in marks.items()}, num_buckets=nb)
    want = sorted(r for r in rows if r[0] not in marks or r[1] > marks[r[0]])
    assert sorted(tuple(r) for r in out.collect()) == want


@st.composite
def _table_guard_cases(draw):
    tables = ["a", "b", "it's"]
    marks = draw(st.dictionaries(
        st.sampled_from(tables),
        st.dictionaries(st.integers(0, 3), st.integers(-3, 20), max_size=4),
        max_size=3,
    ))
    rows = draw(st.lists(
        st.tuples(st.sampled_from([*tables, "unknown"]), st.integers(0, 3), st.integers(-5, 25)),
        max_size=30,
    ))
    return marks, rows


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_table_guard_cases())
def test_unprocessed_by_table_matches_python_filter(spark, case):
    """The multi-table guard keeps a row iff its own table's mark for its
    bucket is absent or below the row's offset."""
    marks, rows = case
    df = spark.createDataFrame(rows, "t string, _bucket int, offset long")
    keep = unprocessed_by_table_predicate(
        {t: {str(b): o for b, o in m.items()} for t, m in marks.items()}, F.col("t")
    )
    got = sorted(tuple(r) for r in df.filter(keep).collect())
    m = {(t, b): o for t, tm in marks.items() for b, o in tm.items()}
    want = sorted(r for r in rows if (r[0], r[1]) not in m or r[2] > m[(r[0], r[1])])
    assert got == want


def test_lww_agg_and_window_agree(spark):
    df = _events(spark)
    a = lww_latest(df, ["key"], ["offset"], ["val", "offset"])
    b = lww_latest_window(df, ["key"], ["offset"]).select("key", "val", "offset")
    c = lww_latest_window(df, ["key"], ["offset"], salt_buckets=4).select(
        "key", "val", "offset"
    )
    expected = {("k1", "v9", 9), ("k2", "w8", 8), ("k3", "x1", 1)}
    for got in (a, b, c):
        assert {tuple(r) for r in got.select("key", "val", "offset").collect()} == expected


def test_lww_collapses_duplicate_offsets(spark):
    df = _events(spark).filter(F.col("key") == "k2")
    out = lww_latest(df, ["key"], ["offset"], ["val"])
    assert out.count() == 1
    assert out.first()["val"] == "w8"


def test_salted_repartition_preserves_rows(spark):
    from debezium_incubator_spark.operators.dedup import salted_repartition

    df = _events(spark)
    out = salted_repartition(df, ["key"], 4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_hot_key_skew_matches_oracle(spark, tmp_path):
    """One very hot key (80% of events): the engine's final table must
    equal the independent DuckDB LWW reduction."""
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.changelog import DataFrameChangelog
    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
    from tests.helpers import expected_final_state, state_pdf

    src = gen_source_table(spark, n_keys=60, n_repos=3)
    # key_skew very high → hottest keys dominate
    log = gen_changelog(spark, n_keys=60, n_repos=3, n_slots=500, key_skew=4.0)
    eng = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    eng.create_target()
    eng.bootstrap(src)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=800)
    assert state_pdf(eng).equals(expected_final_state(spark, src, log, tmp_path))
