"""Schema-evolution suite (≙ SchemaProcessorTest cdc/ALTER pickup +
OracleConnectorIT DDL-while-streaming :501-540 + DDL parser ALTER
ADD/DROP tests): add + rename mid-stream; old snapshots stay readable;
replay from a pre-rename checkpoint keeps sha256 parity."""

from pyspark.sql import functions as F

from debezium_incubator_spark.plans.pipeline import CDCEngine
from tests.helpers import mk_events

IMG = lambda v, **kw: {"commit": "c" * 40, "lang": "py", "content": v, **kw}  # noqa: E731


def _bootstrapped(spark, tmp_path):
    eng = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    eng.create_target()
    src = spark.createDataFrame(
        [("r", "a", "c" * 40, "py", "v0\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    eng.bootstrap(src)
    return eng


def test_add_column_mid_stream(spark, tmp_path):
    eng = _bootstrapped(spark, tmp_path)
    ev1 = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                             "after": IMG("v1\n")}])
    eng.apply_epoch(ev1, stream_pos=1)

    eng.add_column("stars", "string")  # DDL between epochs (S7)
    ext = [("commit", "string"), ("lang", "string"), ("content", "string"),
           ("stars", "string")]
    ev2 = mk_events(
        spark,
        [{"offset": 2, "op": "c", "repo": "r", "path": "b",
          "after": IMG("w1\n", stars="5")}],
        payload_fields=ext,
    )
    eng.apply_epoch(ev2, stream_pos=2)
    got = {r["path"]: r["stars"] for r in eng.final_state().collect()}
    assert got == {"a": None, "b": "5"}  # old rows null, new rows carry it
    # old version still readable (pre-DDL snapshot)
    assert "stars" not in eng.table.read(spark, version=1).columns


def test_rename_column_and_replay_across_rename(spark, tmp_path):
    eng = _bootstrapped(spark, tmp_path)
    ev1 = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                             "after": IMG("v1\n")}])
    eng.apply_epoch(ev1, stream_pos=1)
    pre_rename_epoch = eng.store.latest()["epoch"]

    eng.rename_column("lang", "language")
    # events still arrive with the OLD field name — the rename mapping
    # must route after.lang → language
    ev2 = mk_events(spark, [{"offset": 2, "op": "u", "repo": "r", "path": "a",
                             "after": IMG("v2\n")}])
    eng.apply_epoch(ev2, stream_pos=2)
    row = eng.final_state().first()
    assert "language" in eng.final_state().columns
    assert row["language"] == "py" and row["content"] == "v2\n"
    sha_final = row["content_sha256"]

    # replay from the pre-rename checkpoint: epoch 2 re-applies through
    # the rename mapping and converges to the same state
    eng.store.rewind_to(pre_rename_epoch)
    eng2 = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    eng2.apply_epoch(ev2, stream_pos=2)
    row2 = eng2.final_state().first()
    assert row2["content_sha256"] == sha_final
    assert row2["language"] == "py"


def test_rename_mapping_survives_checkpoint_without_renames(spark, tmp_path):
    """VERDICT r4 #3 / hard part (c) proper: the rename mapping must NOT
    depend on checkpoint state. A checkpoint lineage that never carried
    ``renames`` — one rebuilt by _reconcile from commit summaries, or
    written before the rename — still routes after.lang → language via
    the manifest's field-id schema history (the durable schema-history
    store, ≙ OracleConnectorTask.java:70-76)."""
    eng = _bootstrapped(spark, tmp_path)
    eng.rename_column("lang", "language")
    assert "renames" not in eng.store.latest()  # the checkpoint keeps none

    eng2 = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    ev = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                            "after": IMG("v1\n")}])
    eng2.apply_epoch(ev, stream_pos=1)
    row = eng2.final_state().first()
    assert row["language"] == "py" and row["content"] == "v1\n"


def test_rename_after_an_epoch_leaves_no_rename_list(spark, tmp_path):
    """In ONE engine object: an epoch, then a rename, then run(). The
    pre-rename field still lands in the renamed column, routed by the
    manifest's field-id history alone — the checkpoint keeps no rename
    list."""
    from debezium_incubator_spark.sources.changelog import DataFrameChangelog

    eng = _bootstrapped(spark, tmp_path)
    eng.apply_epoch(mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                                       "after": IMG("v1\n")}]), stream_pos=1)
    eng.rename_column("lang", "language")
    ev = mk_events(spark, [{"offset": 2, "op": "u", "repo": "r", "path": "a",
                            "after": IMG("v2\n", lang="rs")}])
    eng.run(DataFrameChangelog(ev), offsets_per_epoch=10)
    row = eng.final_state().first()
    assert row["language"] == "rs" and row["content"] == "v2\n"
    ck = eng.store.latest()
    assert ck["stream_pos"] == 2
    assert "renames" not in ck


def test_older_checkpoint_layout_resumes(spark, tmp_path):
    """A checkpoint written in the older layout — with a rename list and
    a snapshot version — loads, resumes and applies; the next epoch's
    checkpoint holds only the current keys."""
    import json

    eng = _bootstrapped(spark, tmp_path)
    eng.rename_column("lang", "language")
    ck = eng.store.latest()
    with open(tmp_path / "c" / f"epoch={ck['epoch']}.json", "w") as f:
        json.dump(dict(ck, snapshot_version=None,
                       renames=[{"old": "lang", "new": "language"}]), f)

    eng2 = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    ev = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                            "after": IMG("v1\n", lang="rs")}])
    new = eng2.apply_epoch(ev, stream_pos=1, ckpt=eng2.resume())
    assert new["epoch"] == ck["epoch"] + 1
    row = eng2.final_state().first()
    assert row["language"] == "rs" and row["content"] == "v1\n"
    assert eng2.store.latest() == new
    assert set(new) == {"epoch", "phase", "table_version", "stream_pos",
                        "max_offsets", "counters"}


def test_engine_level_partial_images(spark, tmp_path):
    """Cell set-flags through the FULL engine (CellData.java:27-87;
    CommitLogReadHandlerImpl.java:351-410): an epoch's envelopes carry
    ``after_set``; unset fields keep current values, and the DERIVED
    content_sha256 follows content (a content-keeping update must not
    null the stored fingerprint)."""
    from pyspark.sql import functions as F  # noqa: F811

    eng = CDCEngine(
        spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4,
        after_set_col="after_set",
    )
    eng.create_target()
    eng.bootstrap(spark.createDataFrame(
        [("r", "a", "c" * 40, "py", "v0\n")],
        "repo string, path string, commit string, lang string, content string",
    ))
    sha0 = eng.final_state().first()["content_sha256"]

    # epoch 1: content-only update (lang unset → keeps 'py')
    ev1 = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                             "after": {"commit": "d" * 40, "lang": None,
                                       "content": "v1\n"}}])
    ev1 = ev1.withColumn("after_set", F.array(F.lit("commit"), F.lit("content")))
    eng.apply_epoch(ev1, stream_pos=1)
    row = eng.final_state().first()
    assert row["lang"] == "py" and row["content"] == "v1\n"
    assert row["content_sha256"] != sha0
    sha1 = row["content_sha256"]

    # epoch 2: lang-only update — content AND its fingerprint kept
    ev2 = mk_events(spark, [{"offset": 2, "op": "u", "repo": "r", "path": "a",
                             "after": {"commit": None, "lang": "go",
                                       "content": None}}])
    ev2 = ev2.withColumn("after_set", F.array(F.lit("lang")))
    eng.apply_epoch(ev2, stream_pos=2)
    row = eng.final_state().first()
    assert row["lang"] == "go"
    assert row["content"] == "v1\n" and row["content_sha256"] == sha1

    # epoch 3: NULL after_set = full image (replaces everything)
    ev3 = mk_events(spark, [{"offset": 3, "op": "u", "repo": "r", "path": "a",
                             "after": {"commit": "e" * 40, "lang": "rs",
                                       "content": "v3\n"}}])
    ev3 = ev3.withColumn("after_set", F.lit(None).cast("array<string>"))
    eng.apply_epoch(ev3, stream_pos=3)
    row = eng.final_state().first()
    assert (row["lang"], row["content"]) == ("rs", "v3\n")


def test_engine_partial_images_across_rename(spark, tmp_path):
    """after_set entries name SOURCE fields: after a rename the engine
    must rewrite them to current schema names or the membership test
    silently treats the renamed field as unset."""
    from pyspark.sql import functions as F  # noqa: F811

    eng = CDCEngine(
        spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4,
        after_set_col="after_set",
    )
    eng.create_target()
    eng.bootstrap(spark.createDataFrame(
        [("r", "a", "c" * 40, "py", "v0\n")],
        "repo string, path string, commit string, lang string, content string",
    ))
    eng.rename_column("lang", "language")
    # pre-rename envelope: sets ONLY lang (old name), content unset
    ev = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                            "after": {"commit": None, "lang": "go",
                                      "content": None}}])
    ev = ev.withColumn("after_set", F.array(F.lit("lang")))
    eng.apply_epoch(ev, stream_pos=1)
    row = eng.final_state().first()
    assert row["language"] == "go"
    assert row["content"] == "v0\n"  # unset → kept


def test_rename_revert_cycle_terminates(spark, tmp_path):
    """Review r5 #1: a rename REVERT (lang→language, then language→lang)
    makes the checkpoint rename chain circular — the candidate walk must
    be cycle-bounded or apply_epoch spins the driver forever."""
    eng = _bootstrapped(spark, tmp_path)
    eng.rename_column("lang", "language")
    eng.rename_column("language", "lang")
    ev = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                            "after": IMG("v1\n")}])
    eng.apply_epoch(ev, stream_pos=1)
    row = eng.final_state().first()
    assert row["lang"] == "py" and row["content"] == "v1\n"


def test_unmapped_new_column_defaults_null(spark, tmp_path):
    """An added column with no envelope counterpart stays null instead of
    failing the apply (≙ ALTER handled, data backfilled lazily)."""
    eng = _bootstrapped(spark, tmp_path)
    eng.add_column("notes", "string")
    ev = mk_events(spark, [{"offset": 1, "op": "u", "repo": "r", "path": "a",
                            "after": IMG("v1\n")}])
    eng.apply_epoch(ev, stream_pos=1)
    assert eng.final_state().first()["notes"] is None
