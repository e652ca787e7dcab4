"""K4 changelog GC + S7 DDL control-stream tests."""

import os

import pytest
from pyspark.sql import functions as F

from debezium_incubator_spark.plans.pipeline import CDCEngine
from debezium_incubator_spark.sources.gc import expire_changelog_files
from tests.helpers import mk_events

IMG = lambda v: {"commit": "c" * 40, "lang": "py", "content": v}  # noqa: E731


def test_expire_changelog_files(spark, tmp_path):
    d = str(tmp_path / "chlog")
    lo = mk_events(spark, [{"offset": i, "op": "u", "repo": "r", "path": f"p{i}",
                            "after": IMG(f"v{i}\n")} for i in range(10)])
    hi = mk_events(spark, [{"offset": 100 + i, "op": "u", "repo": "r", "path": f"p{i}",
                            "after": IMG(f"w{i}\n")} for i in range(10)])
    lo.coalesce(1).write.mode("append").parquet(d)
    hi.coalesce(1).write.mode("append").parquet(d)

    # nothing processed yet → no-op
    assert expire_changelog_files(d, -1) == []
    # processed through 50 → only the low file is archived
    moved = expire_changelog_files(d, 50)
    assert len(moved) == 1
    assert os.path.exists(os.path.join(d, "_archive", moved[0]))
    # remaining data still readable and is the high file
    left = spark.read.parquet(d)
    assert left.agg(F.min("offset")).first()[0] == 100


def test_restore_archived(spark, tmp_path):
    """VERDICT r4 #5: the operator-facing heal — move archived segments
    back when a late-attaching table is owed their history; drain resets
    ``archived_through`` so catch-up paths stop warning."""
    import json

    from debezium_incubator_spark.sources.gc import restore_archived

    d = str(tmp_path / "chlog")
    lo = mk_events(spark, [{"offset": i, "op": "u", "repo": "r", "path": f"p{i}",
                            "after": IMG(f"v{i}\n")} for i in range(10)])
    mid = mk_events(spark, [{"offset": 50 + i, "op": "u", "repo": "r", "path": f"p{i}",
                             "after": IMG(f"m{i}\n")} for i in range(10)])
    hi = mk_events(spark, [{"offset": 100 + i, "op": "u", "repo": "r", "path": f"p{i}",
                            "after": IMG(f"w{i}\n")} for i in range(10)])
    for df in (lo, mid, hi):
        df.coalesce(1).write.mode("append").parquet(d)

    moved = expire_changelog_files(d, 80)
    assert len(moved) == 2  # lo + mid archived
    with open(os.path.join(d, "_gc_state.json")) as f:
        assert json.load(f)["archived_through"] == 80

    # bounded restore: only the segment containing offsets ≤ 20 returns
    back = restore_archived(d, through_offset=20)
    assert len(back) == 1
    assert spark.read.parquet(d).agg(F.min("offset")).first()[0] == 0
    with open(os.path.join(d, "_gc_state.json")) as f:
        assert json.load(f)["archived_through"] == 80  # partial: stay loud

    # full restore drains the archive and clears the mark
    back2 = restore_archived(d)
    assert len(back2) == 1
    assert spark.read.parquet(d).count() == 30
    with open(os.path.join(d, "_gc_state.json")) as f:
        assert json.load(f)["archived_through"] == -1
    # restored files are re-eligible for the next GC pass
    moved2 = expire_changelog_files(d, 80)
    assert len(moved2) == 2


def test_apply_ddl_events(spark, tmp_path):
    eng = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    eng.create_target()
    eng.bootstrap(spark.createDataFrame(
        [("r", "a", "c" * 40, "py", "v\n")],
        "repo string, path string, commit string, lang string, content string"))
    n = eng.apply_ddl_events([
        {"action": "add_column", "name": "stars", "dtype": "string"},
        {"action": "rename_column", "name": "lang", "new_name": "language"},
    ])
    assert n == 2
    cols = eng.final_state().columns
    assert "stars" in cols and "language" in cols and "lang" not in cols
    # unsupported action warns + skips (≙ OracleSchemaChangeEventEmitter.java:65-80)
    with pytest.warns(UserWarning):
        assert eng.apply_ddl_events([{"action": "truncate_table"}]) == 0


def test_null_key_events_are_skipped(spark, tmp_path):
    """A mutation without a full primary key is undeliverable — skipped
    like the reference skips unparseable mutations, not crashed on."""
    eng = CDCEngine(spark, str(tmp_path / "nt"), str(tmp_path / "nc"), num_buckets=4)
    eng.create_target()
    eng.bootstrap(spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"))
    ev = mk_events(spark, [
        {"offset": 1, "op": "c", "repo": "r", "path": "a", "after": IMG("v\n")},
        {"offset": 2, "op": "c", "repo": None, "path": "b", "after": IMG("w\n")},
        {"offset": 3, "op": "c", "repo": "r", "path": None, "after": IMG("x\n")},
    ])
    eng.apply_epoch(ev, stream_pos=3)
    got = [(r["repo"], r["path"]) for r in eng.final_state().collect()]
    assert got == [("r", "a")]
