"""Change-data-feed reconstruction from the lake table's version chain
(lake/cdf.py) — the after-the-fact row-level change stream the
reference's connectors emit per commit (ChangeRecord envelopes,
Record.java operation kinds), here derived from immutable committed
versions so any range can be replayed deterministically."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from debezium_incubator_spark.lake.cdf import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
    changed_buckets,
    step_changes,
    table_changes,
)
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
    return commit_full_state(spark, t, rows, SCHEMA)


def _feed(df):
    return sorted(
        tuple(r)
        for r in df.select("repo", "path", "v", CHANGE_TYPE_COL, COMMIT_VERSION_COL).collect()
    )


def test_step_classifies_insert_update_delete(spark, tmp_table):
    rows0 = [("r1", "a", 1), ("r1", "b", 2), ("r2", "c", 3)]
    t = _mk(spark, tmp_table, rows0)
    # v2: update a, delete b, insert d, c untouched (CoW survivor)
    _commit_state(spark, t, [("r1", "a", 10), ("r2", "c", 3), ("r2", "d", 4)])

    got = _feed(step_changes(t, spark, 2, KEYS))
    assert got == sorted(
        [
            ("r1", "a", 1, "update_preimage", 2),
            ("r1", "a", 10, "update_postimage", 2),
            ("r1", "b", 2, "delete", 2),
            ("r2", "d", 4, "insert", 2),
        ]
    )
    # c survived a bucket rewrite byte-identical → emits NOTHING
    assert not [g for g in got if g[1] == "c"]


def test_changed_buckets_prunes_untouched(spark, tmp_table):
    rows = [(f"r{i}", f"p{i}", i) for i in range(40)]
    t = _mk(spark, tmp_table, rows)
    m = t.manifest()
    # rewrite bucket 0 only
    b0 = t.read(spark, buckets=[0]).withColumn("v", F.col("v") + 100)
    t.commit(t.with_bucket(b0), replace_buckets=[0], summary={"epoch": 1})
    assert changed_buckets(t, 2) == [0]
    # and the step feed contains only rows hashing to bucket 0
    chg = step_changes(t, spark, 2, KEYS)
    n_b0 = t.read(spark, buckets=[0]).count()
    assert chg.count() == 2 * n_b0  # every bucket-0 row: pre+post image
    assert (
        chg.filter(F.col(CHANGE_TYPE_COL) == "update_postimage").count() == n_b0
    )


def test_table_changes_range_and_net_effect(spark, tmp_table):
    t = _mk(spark, tmp_table, [("r1", "a", 1), ("r1", "b", 2)])
    v1 = t.version()
    _commit_state(spark, t, [("r1", "a", 5), ("r1", "b", 2), ("r1", "c", 3)])
    _commit_state(spark, t, [("r1", "a", 7), ("r1", "c", 3)])

    feed = table_changes(t, spark, from_version=v1, key_cols=KEYS)
    got = _feed(feed)
    assert got == sorted(
        [
            ("r1", "a", 1, "update_preimage", 2),
            ("r1", "a", 5, "update_postimage", 2),
            ("r1", "c", 3, "insert", 2),
            ("r1", "a", 5, "update_preimage", 3),
            ("r1", "a", 7, "update_postimage", 3),
            ("r1", "b", 2, "delete", 3),
        ]
    )
    # folding the feed over the v1 state reproduces the final state:
    # last change per key wins; postimage/insert live, delete gone
    base = t.read(spark, version=v1)
    w = (
        feed.filter(F.col(CHANGE_TYPE_COL) != "update_preimage")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*KEYS).orderBy(F.col(COMMIT_VERSION_COL).desc())
            ),
        )
        .filter("rn = 1")
    )
    folded = (
        base.join(w.select(*KEYS), KEYS, "anti")
        .unionByName(w.filter(F.col(CHANGE_TYPE_COL) != "delete").select(base.columns))
    )
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, t.read(spark).collect())
    )


def test_empty_range_raises(spark, tmp_table):
    t = _mk(spark, tmp_table, [("r1", "a", 1)])
    with pytest.raises(ValueError):
        table_changes(t, spark, from_version=t.version())


def test_rename_surfaces_as_delete_plus_add_table_wide(spark, tmp_table):
    rows = [(f"r{i}", f"p{i}", i) for i in range(10)]
    t = _mk(spark, tmp_table, rows)
    t.rename_column("v", "val")
    v = t.version()
    # metadata-only step, but the NAME SET changed → widens to all
    # populated buckets: every live row emits old-name delete + new-name
    # add (del+add posture; Delta refuses CDF across this entirely)
    assert changed_buckets(t, v) == sorted(
        int(b) for b, fs in t.manifest()["buckets"].items() if fs
    )
    chg = step_changes(t, spark, v, KEYS)
    assert chg.filter(F.col(CHANGE_TYPE_COL) == "update_preimage").count() == 10
    pre = chg.filter(F.col(CHANGE_TYPE_COL) == "update_preimage")
    post = chg.filter(F.col(CHANGE_TYPE_COL) == "update_postimage")
    # preimage carries v (old name), NULL val; postimage the reverse
    assert pre.filter(F.col("v").isNotNull() & F.col("val").isNull()).count() == 10
    assert post.filter(F.col("val").isNotNull() & F.col("v").isNull()).count() == 10


def test_pure_add_column_stays_bucket_bounded(spark, tmp_table):
    # an ADD never widens: the new column is NULL at both versions for
    # untouched buckets, so widening would scan the table to emit nothing
    t = _mk(spark, tmp_table, [(f"r{i}", f"p{i}", i) for i in range(10)])
    t.add_column("extra", "string")
    v = t.version()
    assert changed_buckets(t, v) == []
    assert step_changes(t, spark, v, KEYS).count() == 0


def test_type_widening_metadata_step_emits_nothing(spark, tmp_table):
    t = _mk(spark, tmp_table, [("r1", "a", 1)])
    t.modify_column("v", "long")  # no-op widen keeps the name set
    v = t.version()
    assert changed_buckets(t, v) == []
    assert step_changes(t, spark, v, KEYS).count() == 0


def test_feed_drives_incremental_agg_view(spark, tmp_table):
    """The feed is a complete delta for an aggregate consumer: per group,
    the aggregate at the first version plus the signed count and sum of
    every later version's changes (inserts and postimages +1, deletes
    and preimages −1) equals the aggregate of the final state."""
    rows0 = [(f"r{i % 3}", f"p{i}", i) for i in range(30)]
    t = _mk(spark, tmp_table, rows0)
    v0 = t.version()
    # two change batches: updates, deletes, inserts across groups
    s1 = [(f"r{i % 3}", f"p{i}", i * 10) for i in range(5)] + [
        (f"r{i % 3}", f"p{i}", i) for i in range(5, 28)
    ] + [("r9", "new1", 1000)]
    _commit_state(spark, t, s1)  # rows p28,p29 deleted
    s2 = [r for r in s1 if r[1] != "p3"] + [("r9", "new2", 2000)]
    _commit_state(spark, t, s2)

    def signed(df, sign):
        return df.select("repo", sign.alias("n"), (F.col("v") * sign).alias("s"))

    added = F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    feed = table_changes(t, spark, from_version=v0, key_cols=KEYS)
    got = (
        signed(t.read(spark, version=v0), F.lit(1))
        .unionByName(signed(feed, F.when(added, 1).otherwise(-1)))
        .groupBy("repo")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .where("n > 0")
    )
    want = t.read(spark).groupBy("repo").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
