"""D3 merge-upsert unit tests incl. partial-image (cell set-flag)
semantics (CommitLogReadHandlerImpl null-vs-unset, CellData 'set')."""

import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_incubator_spark.lake.table import LakeTable
from debezium_incubator_spark.operators import merge
from debezium_incubator_spark.operators.merge import merge_upsert

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _table(spark, tmp_table, rows):
    t = LakeTable.create(tmp_table, SCHEMA, bucket_cols=["repo", "path"], num_buckets=4)
    if rows:
        df = t.with_bucket(spark.createDataFrame(rows, SCHEMA))
        t.commit(df, replace_buckets=range(4), summary={"epoch": 0})
    return t


BATCH_DDL = (
    "repo string, path string, content string, lang string, op string, offset long"
)


def test_merge_insert_update_delete(spark, tmp_table, monkeypatch):
    batch = spark.createDataFrame(
        [
            ("r", "a", "v1", "py", "u", 10),
            ("r", "a", "v2", "py", "u", 20),  # later offset wins
            ("r", "b", None, None, "d", 11),
            ("r", "b", None, None, "t", 12),
            ("r", "c", "new", "go", "c", 13),
            ("r", "p0", "x1", "py", "u", 30),
            ("r", "p0", "x1", "py", "u", 30),  # duplicate replay collapses
            ("r", "p0", "x9", "py", "u", 25),  # arrives late, older: loses
            ("r", "p1", None, None, "d", 14),
        ],
        BATCH_DDL,
    )
    rows = [("r", "a", "v0", "py"), ("r", "b", "w0", "py"),
            ("r", "p0", "x0", "py"), ("r", "p1", "y0", "py")]
    for fused in (False, True):  # broadcast-anti AND fused paths
        if fused:
            monkeypatch.setattr(merge, "BROADCAST_KEYS_MAX", 0)
        t = _table(spark, f"{tmp_table}_{'fused' if fused else 'bc'}", rows)
        v, stats = merge_upsert(
            t, batch, ["repo", "path"], ["offset", "op"], summary={"epoch": 1}
        )
        got = {(r["path"]): (r["content"], r["lang"]) for r in t.read(spark).collect()}
        assert got == {"a": ("v2", "py"), "c": ("new", "go"), "p0": ("x1", "py")}, fused
        assert stats["counters"]["events_in"] == 9
        assert stats["counters"]["deletes"] == 3 and stats["counters"]["tombstones"] == 1
        assert t.summary()["epoch"] == 1


def test_bootstrap_plan_error_leaves_no_stats_thread(spark, tmp_table):
    """An empty-target merge overlaps its stats collect with the write;
    a plan error raised after that collect started (here: a payload
    column missing from the batch) must propagate AND shut the stats
    pool down — no worker thread may outlive the call, even while the
    traceback (which references the call's frame) is still alive."""
    t = _table(spark, tmp_table, [])
    batch = spark.createDataFrame(
        [("r", "a", "v1", "u", 10)],
        "repo string, path string, content string, op string, offset long",
    )
    before = set(threading.enumerate())
    with pytest.raises(AnalysisException) as excinfo:
        merge_upsert(t, batch, ["repo", "path"], ["offset", "op"], summary={"epoch": 1})
    leaked = [
        th for th in threading.enumerate()
        if th not in before and th.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked
    assert "lang" in str(excinfo.value)


def test_merge_untouched_buckets_not_rewritten(spark, tmp_table):
    rows = [("r", f"p{i}", f"v{i}", "py") for i in range(32)]
    t = _table(spark, tmp_table, rows)
    m1 = t.manifest()
    one = spark.createDataFrame([("r", "p0", "VV", "py", "u", 5)], BATCH_DDL)
    merge_upsert(t, one, ["repo", "path"], ["offset", "op"], summary={"epoch": 1})
    m2 = t.manifest()
    changed = [b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"].get(b)]
    assert len(changed) == 1  # only the bucket containing (r,p0)
    assert t.read(spark).filter(F.col("path") == "p0").first()["content"] == "VV"
    assert t.read(spark).count() == 32


def test_merge_partial_images_after_set(spark, tmp_table):
    t = _table(spark, tmp_table, [("r", "a", "v0", "py")])
    batch = spark.createDataFrame(
        [
            # update sets only content — lang must keep current value
            ("r", "a", "v1", None, "u", 10, ["content"]),
            # full-image update (no set list) replaces everything
            ("r", "b", "w1", "go", "c", 11, None),
        ],
        BATCH_DDL + ", after_set array<string>",
    )
    merge_upsert(
        t, batch, ["repo", "path"], ["offset", "op"],
        summary={"epoch": 1}, after_set_col="after_set",
    )
    got = {r["path"]: (r["content"], r["lang"]) for r in t.read(spark).collect()}
    assert got == {"a": ("v1", "py"), "b": ("w1", "go")}


def test_merge_partial_images_fold_multi_events_per_key(spark, tmp_table, monkeypatch):
    """Review r5-2 #1: several partial updates to ONE key in ONE batch
    each contribute their set fields (field-wise fold, CellData 'set'
    chained application) — winner-only LWW would silently drop the
    earlier events' fields. A destructive event RESETS the fold."""
    batch = spark.createDataFrame(
        [
            # key a: content set at 10, lang set at 20 → BOTH apply
            ("r", "a", "vA", None, "u", 10, ["content"]),
            ("r", "a", None, "ts", "u", 20, ["lang"]),
            # key b: partial update BEFORE a delete must not leak into
            # the post-delete re-create (full image at 30)
            ("r", "b", "leak", None, "u", 10, ["content"]),
            ("r", "b", None, None, "d", 20, None),
            ("r", "b", "w3", "md", "c", 30, None),
            # key c: partial update then delete → key gone
            ("r", "c", None, "py", "u", 10, ["lang"]),
            ("r", "c", None, None, "d", 20, None),
            # key e (review r5-3 #1): delete then PARTIAL update — the
            # re-created row carries ONLY the post-delete set fields;
            # the broadcast path's coalesce must NOT back-fill content
            # from the pre-delete current row ("old" stays dead)
            ("r", "e", None, None, "d", 10, None),
            ("r", "e", None, "go", "u", 20, ["lang"]),
        ],
        BATCH_DDL + ", after_set array<string>",
    )
    for fused in (False, True):  # broadcast AND fused paths
        if fused:
            monkeypatch.setattr(merge, "BROADCAST_KEYS_MAX", 0)
        path = f"{tmp_table}_fold_{'fused' if fused else 'bc'}"
        t = _table(spark, path, [("r", "a", "v0", "py"),
                                 ("r", "b", "w0", "go"),
                                 ("r", "c", "x0", "rs"),
                                 ("r", "e", "old", "py")])
        merge_upsert(
            t, batch, ["repo", "path"], ["offset", "op"],
            summary={"epoch": 1}, after_set_col="after_set",
        )
        got = {r["path"]: (r["content"], r["lang"])
               for r in t.read(spark).collect()}
        assert got == {
            "a": ("vA", "ts"),
            "b": ("w3", "md"),
            "e": (None, "go"),
        }, fused


def test_gen_partial_updates_fixture_not_vacuous(spark):
    """The partial_image_merge oracle (VERDICT r4 #2) is only as strong
    as its fixture: keep every interesting case populated — full images,
    op 'c' re-creates, fields explicitly set to NULL, fields left unset,
    and keys chained across epochs."""
    from debezium_incubator_spark.sources.generator import gen_partial_updates

    _, events = gen_partial_updates(spark, n_keys=200, n_epochs=3)
    ev = events.persist()
    try:
        assert ev.filter(F.col("after_set").isNull()).count() > 0
        assert ev.filter(F.col("op") == "c").count() > 0
        assert (
            ev.filter(
                F.col("after_set").isNotNull()
                & F.array_contains("after_set", "lang")
                & F.col("lang").isNull()
            ).count()
            > 0
        )
        assert (
            ev.filter(
                F.col("after_set").isNotNull()
                & ~F.array_contains("after_set", "lang")
            ).count()
            > 0
        )
        chained = ev.groupBy("repo", "path").count().filter(F.col("count") >= 2)
        assert chained.count() > 50
        # default form: ≤1 event per key per epoch (the merge-level
        # oracle's chained-epoch SQL relies on it)
        per_epoch = ev.groupBy("repo", "path", F.floor(F.col("offset") / 10_000)).count()
        assert per_epoch.agg(F.max("count")).first()[0] == 1
    finally:
        ev.unpersist()

    # multi form (the ENGINE oracle's input): some keys must get several
    # events inside ONE epoch, or the intra-epoch field-wise fold
    # (review r5-2 #1) is never exercised
    from debezium_incubator_spark.sources.generator import gen_partial_updates as g

    _, multi = g(spark, n_keys=200, n_epochs=3, events_per_epoch=3)
    per_epoch_multi = multi.groupBy(
        "repo", "path", F.floor(F.col("offset") / 10_000)
    ).count()
    assert per_epoch_multi.agg(F.max("count")).first()[0] >= 2
