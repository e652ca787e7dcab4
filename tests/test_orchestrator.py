"""Multi-table orchestration: N tables driven from one changelog with
per-table offsets/checkpoints (≙ SnapshotProcessor.java:132-137 snapshot
loop, FileOffsetWriter.java:75-118 per-table offsets), CREATE TABLE DDL
provisioning mid-stream (OracleSchemaChangeEventEmitter.java:65-80), and
DROP TABLE teardown."""

import os

import pytest
from pyspark.sql import functions as F

from debezium_incubator_spark.lake.table import LakeTable
from debezium_incubator_spark.plans.orchestrator import MultiTableCDC, TableSlice
from debezium_incubator_spark.sources.changelog import DataFrameChangelog
from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
from tests.helpers import assert_marks_within_stream_pos

N_KEYS, N_REPOS, N_SLOTS = 200, 8, 600

CREATE_T1 = (
    'CREATE TABLE repos.files_01 ('
    '"repo" varchar2(100), "path" varchar2(500), "commit" varchar2(40), '
    '"lang" varchar2(10), "content" clob, '
    'PRIMARY KEY ("repo", "path"));'
)


@pytest.fixture(scope="module")
def fixtures(spark):
    src = gen_source_table(spark, n_keys=N_KEYS, n_repos=N_REPOS, n_tables=2)
    log = gen_changelog(spark, n_keys=N_KEYS, n_repos=N_REPOS, n_slots=N_SLOTS, n_tables=2)
    return src, log


def _final(orch, name):
    return sorted(
        tuple(r)
        for r in orch.final_state(name)
        .select("repo", "path", "commit", "lang", "content_sha256")
        .collect()
    )


def _clean_run(spark, tmp_path, src, log, sub="clean"):
    orch = MultiTableCDC(spark, str(tmp_path / sub), num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    orch.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    return orch


def test_two_tables_resume_independently(spark, tmp_path, fixtures):
    """Kill/restart mid-stream: a NEW orchestrator instance reconstructs
    both engines from the registry and resumes each from ITS OWN
    checkpoint; the final state matches a clean one-shot run per table."""
    src, log = fixtures
    expected = {n: _final(_clean_run(spark, tmp_path, src, log), n)
                for n in ("files_00", "files_01")}

    root = str(tmp_path / "resumed")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    # partial progress: 1 epoch per table, then "crash"
    orch.run(DataFrameChangelog(log), offsets_per_epoch=800, max_epochs=1)
    m = orch.metrics()
    assert 0 < m["files_00"]["counters"]["events_in"]
    assert 0 < m["files_01"]["counters"]["events_in"]

    # restart: registry-driven reconstruction, independent resume
    orch2 = MultiTableCDC(spark, root, num_buckets=4)
    assert set(orch2.engines) == {"files_00", "files_01"}
    orch2.run(DataFrameChangelog(log), offsets_per_epoch=800)
    for name in ("files_00", "files_01"):
        assert _final(orch2, name) == expected[name]
    # per-table lineage: independent positions + counters
    m2 = orch2.metrics()
    assert m2["files_00"]["max_offsets"] != m2["files_01"]["max_offsets"]
    total = m2["files_00"]["counters"]["events_in"] + m2["files_01"]["counters"]["events_in"]
    # every source row (snapshot epochs) and changelog row is counted by
    # exactly one table's engine
    assert total == log.count() + src.count()


def test_create_table_ddl_provisions_mid_stream(spark, tmp_path, fixtures):
    """CREATE TABLE arriving mid-stream provisions a fresh typed target
    (columns + PK from the parsed DDL) that replays the full history —
    converging to the same state as a table registered up front."""
    src, log = fixtures
    expected = _final(_clean_run(spark, tmp_path, src, log, sub="clean2"), "files_01")

    root = str(tmp_path / "midstream")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    assert "files_01" not in orch.engines

    n = orch.apply_ddl_statements([CREATE_T1])
    assert n == 1 and "files_01" in orch.engines
    t = orch.engines["files_01"].table
    fields = {f["name"]: f["type"] for f in t.current_fields()}
    assert fields == {
        "repo": "string", "path": "string", "commit": "string",
        "lang": "string", "content": "string", "content_sha256": "string",
    }
    assert t.manifest()["bucket_cols"] == ["repo", "path"]

    # mid-stream table had NO snapshot: only keys whose full lifecycle is
    # in the changelog converge to the clean-run state (clean run had a
    # snapshot for pre-existing keys). Restrict the comparison to keys
    # the changelog created from scratch? No — the generator's first
    # touch of a snapshotted key is 'u' carrying the full image, so
    # replaying the whole changelog converges for every key TOUCHED by
    # it; untouched keys exist only via the snapshot.
    orch.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    got = dict(((r[0], r[1]), tuple(r)) for r in _final(orch, "files_01"))
    exp = dict(((r[0], r[1]), tuple(r)) for r in expected)
    # every replayed key matches the clean run exactly
    assert got and all(exp.get(k) == v for k, v in got.items())
    # the difference is exactly the snapshot-only (never-touched) keys
    only_snapshot = set(exp) - set(got)
    touched = {
        (r["repo"], r["path"])
        for r in log.filter(F.col("source.table") == "files_01")
        .select("repo", "path")
        .distinct()
        .collect()
    }
    assert all(k not in touched for k in only_snapshot)


def test_drop_table_ddl(spark, tmp_path, fixtures):
    src, log = fixtures
    root = str(tmp_path / "drop")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    path = orch.engines["files_00"].table_path
    assert LakeTable.exists(path)
    n = orch.apply_ddl_statements(["DROP TABLE repos.files_00;"])
    assert n == 1 and "files_00" not in orch.engines
    assert not LakeTable.exists(path)
    # registry updated: a restart does not resurrect it
    orch2 = MultiTableCDC(spark, root, num_buckets=4)
    assert orch2.engines == {}
    # dropping again is the warn-and-skip path
    with pytest.warns(UserWarning, match="not registered"):
        assert orch.apply_ddl_statements(["DROP TABLE repos.files_00;"]) == 0


def test_engine_provision_from_ddl_then_apply(spark, tmp_path):
    """Single-engine form of the same path (VERDICT item 1 done-criteria):
    DDL text → table exists → an epoch applies into it."""
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.ddl import parse_ddl

    eng = CDCEngine(
        spark, str(tmp_path / "t"), str(tmp_path / "c"),
        num_buckets=4, snapshot_mode="never",
    )
    (action,) = parse_ddl(CREATE_T1)
    n = eng.apply_ddl_events([action])
    assert n == 1 and LakeTable.exists(eng.table_path)
    assert eng.key_cols == ["repo", "path"]
    eng.bootstrap(None)
    log = gen_changelog(spark, n_keys=50, n_repos=4, n_slots=100)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    assert eng.final_state().count() > 0
    # re-provisioning an existing table warns and keeps the schema
    with pytest.warns(UserWarning, match="already provisioned"):
        eng.apply_ddl_events([action])


def test_streaming_multi_table_matches_batch(spark, tmp_path, fixtures):
    """One readStream feeds every registered table via foreachBatch
    (StreamingMultiTableCDC): converges to the same per-table state as
    the batch loop; tables without rows in a micro-batch heartbeat."""
    import time

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    expected = {n: _final(_clean_run(spark, tmp_path, src, log, sub="clean3"), n)
                for n in ("files_00", "files_01")}

    log_dir = str(tmp_path / "schlog")
    top = int(log.agg(F.max("offset")).first()[0])
    half = top // 2
    for cond in (F.col("offset") <= half, F.col("offset") > half):
        log.filter(cond).coalesce(1).write.mode("append").parquet(log_dir)
        time.sleep(0.05)  # distinct mtimes → deterministic file order

    root = str(tmp_path / "sroot")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    s = StreamingMultiTableCDC(orch, log_dir, str(tmp_path / "sck"), max_files_per_trigger=1)
    s.run_until_caught_up(spark, timeout_s=240)

    for name in ("files_00", "files_01"):
        assert _final(orch, name) == expected[name]
    m = orch.metrics()
    # both tables processed ≥2 micro-batches and share the stream position
    assert m["files_00"]["epoch"] >= 2 and m["files_01"]["epoch"] >= 2


def test_apply_batch_out_of_order_is_per_table(spark, tmp_path, fixtures):
    """The streaming out-of-order guard uses PER-TABLE offset bounds: a
    batch whose new offsets belong only to table B must not wedge table
    A (whole-batch bounds would); a batch genuinely spanning A's own
    position raises."""
    from debezium_incubator_spark.streaming.stream import OutOfOrderDeliveryError

    src, log = fixtures
    orch = MultiTableCDC(spark, str(tmp_path / "oo"), num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    a_off = log.filter(F.col("source.table") == "files_00").select("offset")
    cut = int(a_off.agg(F.expr("percentile_approx(offset, 0.5)")).first()[0])
    # catch table A up to `cut`; B stays behind
    orch.engines["files_00"].run(
        __import__("debezium_incubator_spark.sources.changelog", fromlist=["DataFrameChangelog"])
        .DataFrameChangelog(log.filter(F.col("source.table") == "files_00")),
        offsets_per_epoch=cut + 1,
        max_epochs=1,
    )
    last_a = int(orch.engines["files_00"].store.latest()["stream_pos"])
    assert 0 < last_a
    # a batch spanning A's OWN position raises (and leaves state untouched
    # — the guard fires before any engine applies)
    spanning = log.filter(F.col("source.table") == "files_00")
    assert int(spanning.agg(F.max("offset")).first()[0]) > last_a
    with pytest.raises(OutOfOrderDeliveryError, match="files_00"):
        orch.apply_batch(spanning)
    assert int(orch.engines["files_00"].store.latest()["stream_pos"]) == last_a
    # batch: A rows all at-or-below A's position (pure redelivery for A),
    # B rows beyond it — must NOT raise, and B applies (whole-batch
    # bounds would have wedged A here)
    mixed = log.filter(
        ((F.col("source.table") == "files_00") & (F.col("offset") <= last_a))
        | (F.col("source.table") == "files_01")
    )
    orch.apply_batch(mixed)
    assert orch.engines["files_01"].metrics()["counters"]["events_in"] > 0


def test_maintain_shared_changelog_gc(spark, tmp_path, fixtures):
    """Orchestrator-level K4: the shared changelog GC's watermark is the
    MIN across all tables — a lagging table blocks segment archival;
    once every table is caught up, fully-processed segments archive."""
    import os as _os

    src, log = fixtures
    log_dir = str(tmp_path / "gclog")
    top = int(log.agg(F.max("offset")).first()[0])
    half = top // 2
    for cond in (F.col("offset") <= half, F.col("offset") > half):
        log.filter(cond).coalesce(1).write.mode("append").parquet(log_dir)

    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    orch = MultiTableCDC(spark, str(tmp_path / "gcroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    # files_00 fully caught up; files_01 lags BELOW the first segment's
    # boundary (its watermark = stream_pos, so a lag at exactly `half`
    # would already make the first-half segment expendable)
    orch.engines["files_00"].run(
        TableSlice(ParquetChangelog(log_dir), "files_00"), offsets_per_epoch=top + 1
    )
    orch.engines["files_01"].run(
        TableSlice(ParquetChangelog(log_dir), "files_01"),
        offsets_per_epoch=half // 2 + 1,
        max_epochs=1,
    )
    r1 = orch.maintain(changelog_dir=log_dir)
    assert r1["archived"] == []  # the lagging table holds back GC
    assert r1["gc_watermark_table"] == "files_01"
    # catch files_01 up → the first-half segment becomes expendable
    orch.engines["files_01"].run(
        TableSlice(ParquetChangelog(log_dir), "files_01"), offsets_per_epoch=top + 1
    )
    r2 = orch.maintain(changelog_dir=log_dir)
    assert len(r2["archived"]) >= 1
    assert _os.path.isdir(_os.path.join(log_dir, "_archive"))


def test_drop_then_recreate_replays_history(spark, tmp_path, fixtures):
    """DROP TABLE then CREATE TABLE of the same name (a normal DDL
    sequence) must NOT inherit the dropped table's checkpoint: the
    fresh table starts from INITIAL and replays the full changelog
    history (ADVICE r3 high: a stale ckpt/<name> silently dropped the
    earlier offsets)."""
    src, log = fixtures
    root = str(tmp_path / "recreate")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    assert orch.metrics()["files_00"]["counters"]["events_in"] > 0
    n_00 = log.filter(F.col("source.table") == "files_00").count()

    create_00 = CREATE_T1.replace("files_01", "files_00")
    assert orch.apply_ddl_statements(["DROP TABLE repos.files_00;", create_00]) == 2
    ck = orch.engines["files_00"].store.latest()
    assert int(ck.get("stream_pos", -1)) == -1 and ck["epoch"] <= 0

    orch.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    # the full history landed in the fresh table — nothing was skipped
    # by a resurrected stream position
    assert orch.metrics()["files_00"]["counters"]["events_in"] == n_00
    assert orch.final_state("files_00").count() > 0
    # and a RESTARTED orchestrator sees the same clean state
    orch2 = MultiTableCDC(spark, root, num_buckets=4)
    assert orch2.metrics()["files_00"]["counters"]["events_in"] == n_00


def test_engine_drop_then_recreate_resets_checkpoint(spark, tmp_path):
    """Engine-level form of the same hole (ADVICE r3 medium): a
    drop_table DDL action clears the checkpoint store, so a CREATE in a
    later batch provisions a table that replays from scratch."""
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.ddl import parse_ddl

    eng = CDCEngine(
        spark, str(tmp_path / "t"), str(tmp_path / "c"),
        num_buckets=4, snapshot_mode="never",
    )
    (create,) = parse_ddl(CREATE_T1)
    eng.apply_ddl_events([create])
    eng.bootstrap(None)
    log = gen_changelog(spark, n_keys=50, n_repos=4, n_slots=100)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    assert int(eng.store.latest()["stream_pos"]) > 0

    drop = {"action": "drop_table", "table": "repos.files_01"}
    assert eng.apply_ddl_events([drop, create]) == 2
    assert int(eng.store.latest().get("stream_pos", -1)) == -1
    eng.bootstrap(None)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    assert eng.metrics()["counters"]["events_in"] == log.count()
    assert eng.final_state().count() > 0


def test_maintain_gc_blocked_by_is_reported(spark, tmp_path, fixtures):
    """A table with no processed position (just DDL-provisioned, owed a
    full replay) blocks shared-changelog GC — and maintain() says so
    (gc_blocked_by + warning) instead of silently skipping."""
    src, log = fixtures
    log_dir = str(tmp_path / "blocklog")
    log.coalesce(1).write.mode("append").parquet(log_dir)

    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    orch = MultiTableCDC(spark, str(tmp_path / "blockroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.run(ParquetChangelog(log_dir), offsets_per_epoch=10 * N_SLOTS)
    orch.apply_ddl_statements([CREATE_T1])  # fresh table, stream_pos=-1
    with pytest.warns(UserWarning, match="GC blocked"):
        r = orch.maintain(changelog_dir=log_dir)
    assert r["archived"] == [] and r["gc_blocked_by"] == "files_01"


def test_maintain_unmarked_buckets_do_not_block_gc(spark, tmp_path):
    """VERDICT r3 #3: a caught-up table whose keys never hashed into
    some bucket (no mark there) must not block shared-changelog GC —
    the bucket has still processed every offset ≤ stream_pos."""
    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    # 12 keys split over 2 tables → ≤6 keys for files_00: with 16
    # buckets some bucket is GUARANTEED markless
    src = gen_source_table(spark, n_keys=12, n_repos=2, n_tables=2)
    log = gen_changelog(spark, n_keys=12, n_repos=2, n_slots=60, n_tables=2)
    log_dir = str(tmp_path / "sparselog")
    log.coalesce(1).write.mode("append").parquet(log_dir)

    orch = MultiTableCDC(spark, str(tmp_path / "sparseroot"), num_buckets=16)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.run(ParquetChangelog(log_dir), offsets_per_epoch=100 * 60)
    eng = orch.engines["files_00"]
    marks = eng._reconcile(eng.store.latest()).get("max_offsets", {})
    assert len(marks) < 16  # precondition: some bucket carries no mark
    r = orch.maintain(changelog_dir=log_dir)
    assert len(r["archived"]) >= 1  # fully processed ⇒ archival proceeds
    assert r["gc_watermark_table"] == "files_00"


def test_apply_batch_carries_heartbeat_ckpt_across_triggers(spark, tmp_path, fixtures):
    """A heartbeat-advanced stream_pos (an idle table's epoch: no table
    commit) is saved every trigger, so the next trigger's resume()
    starts from it: positions advance and epochs increase on every
    trigger, and the persisted checkpoint is the one resume() returns."""
    src, log = fixtures
    orch = MultiTableCDC(spark, str(tmp_path / "hb"), num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)
    a = log.filter(F.col("source.table") == "files_00")
    tops = sorted(r[0] for r in a.select("offset").collect())
    cut0 = tops[len(tops) // 4]
    cuts = [tops[len(tops) // 2], tops[3 * len(tops) // 4], tops[-1]]
    # trigger 0 carries BOTH tables' rows so files_01 establishes a real
    # stream position (a table still at -1 is deliberately never
    # heartbeat-advanced — it is owed a full-history replay)
    orch.apply_batch(log.filter(F.col("offset") <= cut0))
    eng = orch.engines["files_01"]
    assert int(eng.resume()["stream_pos"]) == cut0
    lo, prev, seen = cut0, cut0, []
    for i, cut in enumerate(cuts):
        # files_00-only batches: files_01 heartbeats each trigger
        orch.apply_batch(a.filter((F.col("offset") > lo) & (F.col("offset") <= cut)))
        lo = cut
        hb = eng.resume()
        pos = int(hb["stream_pos"])
        seen.append(pos)
        assert pos >= prev, f"heartbeat position regressed: {seen}"
        assert hb["epoch"] == i + 2  # epochs advance, not re-created
        assert eng.store.latest() == hb  # saved this trigger, not later
        prev = pos
    assert seen == cuts  # each trigger advanced files_01 to the batch top
    for e in orch.engines.values():
        assert_marks_within_stream_pos(e.store)


def test_apply_batch_one_stats_collect(spark, tmp_path, fixtures, monkeypatch):
    """An apply_batch trigger runs ONE stats collect for every table —
    the orchestrator's grouped batch_stats_rows — and no merge collects
    its own. With 2 active and 6 idle tables a trigger runs fewer than
    13 Spark jobs (a bounds pass, a shared stats pass and the writes
    ran 13), and an all-idle trigger runs only the collect's jobs."""
    import sys

    from debezium_incubator_spark.operators import merge

    src, log = fixtures
    orch = MultiTableCDC(spark, str(tmp_path / "one"), num_buckets=4)
    for i in range(8):
        orch.create_table(f"files_{i:02d}")
    orch.bootstrap(src)
    boot = {n: e.store.latest()["counters"].get("events_in", 0) for n, e in orch.engines.items()}
    callers = []
    real = merge.batch_stats_rows

    def counted(*a, **kw):
        callers.append(sys._getframe(1).f_code.co_name)
        return real(*a, **kw)

    monkeypatch.setattr(merge, "batch_stats_rows", counted)
    tracker = spark.sparkContext.statusTracker()
    top = int(log.agg(F.max("offset")).first()[0])
    cuts = [-1, top // 2, top]

    def trigger(batch):
        callers.clear()
        before = set(tracker.getJobIdsForGroup(None))
        orch.apply_batch(batch)
        assert callers == ["_batch_stats"], callers
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    for lo, hi in zip(cuts, cuts[1:]):
        jobs = trigger(log.filter((F.col("offset") > lo) & (F.col("offset") <= hi)))
        assert jobs < 13, jobs
    epochs = {n: e.resume()["epoch"] for n, e in orch.engines.items()}
    idle_jobs = trigger(log.filter(F.col("offset") > top))
    assert idle_jobs <= 3, idle_jobs
    # an empty batch heartbeats every table in place, as StreamingCDC does
    assert {n: e.resume()["epoch"] for n, e in orch.engines.items()} == {
        n: k + 1 for n, k in epochs.items()
    }
    for name, eng in orch.engines.items():
        ck = eng.store.latest()
        n = log.filter(F.col("source.table") == name).count()
        assert ck["counters"].get("events_in", 0) - boot[name] == n
        # an idle table that never streamed stays owed its history
        assert int(ck.get("stream_pos", -1)) == (top if n else -1)


def test_apply_batch_heterogeneous_tables_match_batch_run(spark, tmp_path, fixtures):
    """Tables with different bucket counts and filters share the one
    stats collect: its per-table CASE keeps it row-exact, so apply_batch
    converges to what a per-table batch run() produces."""
    src, log = fixtures
    cfg = {"files_00": {"num_buckets": 4}, "files_01": {"num_buckets": 8, "exclude_regex": "repo-0000$"}}

    def build(sub):
        orch = MultiTableCDC(spark, str(tmp_path / sub), num_buckets=4)
        for name, kw in cfg.items():
            orch.create_table(name, **kw)
        orch.bootstrap(src)
        return orch

    batch_run = build("het_batch")
    batch_run.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    streamed = build("het_stream")
    top = int(log.agg(F.max("offset")).first()[0])
    for lo, hi in ((-1, top // 3), (top // 3, top)):
        streamed.apply_batch(log.filter((F.col("offset") > lo) & (F.col("offset") <= hi)))
    for name in cfg:
        assert _final(streamed, name) == _final(batch_run, name)
        a = streamed.engines[name].store.latest()["counters"]
        b = batch_run.engines[name].store.latest()["counters"]
        assert a["events_in"] == b["events_in"]


def test_concurrent_per_table_apply_matches_sequential(spark, tmp_path):
    """VERDICT r3 #1: driving per-table work through the driver thread
    pool (≙ the reference's processor thread pool,
    CassandraConnectorTask.java:191-228) produces final states
    IDENTICAL to the sequential loop — for both the batch run() loop
    and the streaming apply_batch fan-out."""
    names = [f"files_{i:02d}" for i in range(4)]
    src = gen_source_table(spark, n_keys=160, n_repos=8, n_tables=4)
    log = gen_changelog(spark, n_keys=160, n_repos=8, n_slots=320, n_tables=4)
    top = int(log.agg(F.max("offset")).first()[0])
    half = top // 2

    def build(sub, par):
        orch = MultiTableCDC(
            spark, str(tmp_path / sub), num_buckets=4, max_parallel_tables=par
        )
        for n in names:
            orch.create_table(n)
        orch.bootstrap(src)
        return orch

    # batch run() loop
    seq, par = build("seq", 1), build("par", 4)
    seq.run(DataFrameChangelog(log), offsets_per_epoch=top + 1)
    par.run(DataFrameChangelog(log), offsets_per_epoch=top + 1)
    for n in names:
        assert _final(seq, n) == _final(par, n)
    assert seq.metrics()[names[0]]["counters"] == par.metrics()[names[0]]["counters"]

    # streaming apply_batch fan-out, two triggers
    seq_b, par_b = build("seq_b", 1), build("par_b", 4)
    for orch in (seq_b, par_b):
        orch.apply_batch(log.filter(F.col("offset") <= half))
        orch.apply_batch(log.filter(F.col("offset") > half))
    for n in names:
        assert _final(seq_b, n) == _final(par_b, n)
        assert _final(par_b, n) == _final(seq, n)  # and == the batch loop

def test_mid_stream_ddl_channel(spark, tmp_path, fixtures):
    """VERDICT r3 #2: a CREATE TABLE landing in the DDL control
    directory WHILE the continuous trigger runs provisions the table
    between micro-batches of the same trigger, replays the changelog
    history, and converges to the batch path's state."""
    import time

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    expected = _final(_clean_run(spark, tmp_path, src, log, sub="cleanddl"), "files_01")
    top = int(log.agg(F.max("offset")).first()[0])

    log_dir = str(tmp_path / "ddllog")
    half = top // 2
    for cond in (F.col("offset") <= half, F.col("offset") > half):
        log.filter(cond).coalesce(1).write.mode("append").parquet(log_dir)
        time.sleep(0.05)

    root = str(tmp_path / "ddlroot")
    ddl_dir = str(tmp_path / "ddlctrl")
    os.makedirs(ddl_dir)
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    n_snap_00 = _events_in(orch, "files_00")
    s = StreamingMultiTableCDC(
        orch, log_dir, str(tmp_path / "ddlsck"),
        max_files_per_trigger=1, ddl_dir=ddl_dir,
    )
    assert "files_01" not in orch.engines

    q = s.start(spark, processing_time="1 seconds")
    try:
        # let the stream make progress, then drop the CREATE mid-run.
        # VERDICT r4 #1: the old 120 s wall-clock deadline flaked on a
        # loaded box (full suite at 2.5x nominal wall).  Match the driver
        # query's 240 s budget AND extend while the stream demonstrably
        # makes progress (batchId advancing = live, not hung).
        deadline = time.monotonic() + 240
        last_batch = -1
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if int(orch.engines["files_00"].store.latest().get("stream_pos", -1)) >= 0:
                break
            time.sleep(0.2)
        with open(os.path.join(ddl_dir, "001_create.sql"), "w") as f:
            f.write(CREATE_T1)
        while True:
            if q.exception() is not None:
                raise q.exception()
            if s._poller_error is not None:
                raise s._poller_error
            eng = orch.engines.get("files_01")
            if (
                eng is not None
                and int(eng.store.latest().get("stream_pos", -1)) >= top
                and int(orch.engines["files_00"].store.latest().get("stream_pos", -1)) >= top
            ):
                break
            prog = q.lastProgress
            if prog is not None and prog.get("batchId", -1) > last_batch:
                # stream is live: each new micro-batch buys more time
                last_batch = prog["batchId"]
                deadline = max(deadline, time.monotonic() + 60)
            if time.monotonic() >= deadline:
                raise TimeoutError("files_01 never provisioned/caught up")
            time.sleep(0.3)
    finally:
        q.stop()
        s.stop_poller()

    # same convergence contract as the batch mid-stream DDL test: every
    # key the changelog touches matches the clean run; the residual is
    # exactly the snapshot-only keys (this table had no snapshot source)
    got = dict(((r[0], r[1]), tuple(r)) for r in _final(orch, "files_01"))
    exp = dict(((r[0], r[1]), tuple(r)) for r in expected)
    assert got and all(exp.get(k) == v for k, v in got.items())
    touched = {
        (r["repo"], r["path"])
        for r in log.filter(F.col("source.table") == "files_01")
        .select("repo", "path").distinct().collect()
    }
    assert all(k in touched for k in got)
    assert all(k not in touched for k in set(exp) - set(got))
    # final states cannot see a dropped event that a later one
    # superseded: each event is applied exactly once
    assert _events_in(orch, "files_01") == _events(log, "files_01")
    assert _events_in(orch, "files_00") == n_snap_00 + _events(log, "files_00")
    # the applied DDL file is recorded durably (no re-apply on restart)
    import json as _json

    with open(os.path.join(root, "_ddl_applied.json")) as f:
        assert _json.load(f) == ["001_create.sql"]

def test_ddl_applies_while_stream_idle(spark, tmp_path, fixtures):
    """Review r5-3 root cause of the old flake: foreachBatch never fires
    on empty triggers, so a .sql landing AFTER the stream drained the
    directory starved forever. The idle-time poller must apply it — and
    replay the new table's history — with NO new data arriving."""
    import time

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    expected = _final(_clean_run(spark, tmp_path, src, log, sub="cleanidle"), "files_01")
    top = int(log.agg(F.max("offset")).first()[0])

    log_dir = str(tmp_path / "idlelog")
    log.coalesce(1).write.mode("append").parquet(log_dir)
    ddl_dir = tmp_path / "idlectl"
    ddl_dir.mkdir()

    orch = MultiTableCDC(spark, str(tmp_path / "idleroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    n_snap_00 = _events_in(orch, "files_00")
    s = StreamingMultiTableCDC(
        orch, log_dir, str(tmp_path / "idlesck"), ddl_dir=str(ddl_dir)
    )
    q = s.start(spark, processing_time="1 seconds")
    try:
        deadline = time.monotonic() + 240
        # let the stream FULLY drain the directory first
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if int(orch.engines["files_00"].store.latest().get("stream_pos", -1)) >= top:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("files_00 never drained the directory")
        # now the directory is quiet: the ONLY path to this DDL is the
        # idle poller
        with open(ddl_dir / "001_create.sql", "w") as f:
            f.write(CREATE_T1)
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if s._poller_error is not None:
                raise s._poller_error
            eng = orch.engines.get("files_01")
            if eng is not None and int(
                eng.store.latest().get("stream_pos", -1)
            ) >= top:
                break
            time.sleep(0.3)
        else:
            raise TimeoutError("idle poller never applied the CREATE")
    finally:
        q.stop()
        s.stop_poller()

    got = dict(((r[0], r[1]), tuple(r)) for r in _final(orch, "files_01"))
    exp = dict(((r[0], r[1]), tuple(r)) for r in expected)
    assert got and all(exp.get(k) == v for k, v in got.items())
    assert _events_in(orch, "files_01") == _events(log, "files_01")
    assert _events_in(orch, "files_00") == n_snap_00 + _events(log, "files_00")


def _events(df, name):
    return df.filter(F.col("source.table") == name).count()


def _events_in(orch, name):
    return int(orch.engines[name].resume()["counters"]["events_in"])


def _ddl_clean(spark, root, log, stmt=CREATE_T1, name="files_01"):
    """Final state of a clean full replay into a DDL-created table."""
    ref = MultiTableCDC(spark, str(root), num_buckets=4)
    ref.apply_ddl_statements([stmt])
    ref.run(DataFrameChangelog(log), offsets_per_epoch=4 * N_SLOTS + 4)
    return _final(ref, name)


@pytest.fixture(scope="module")
def ddl_expected(spark, tmp_path_factory, fixtures):
    return _ddl_clean(spark, tmp_path_factory.mktemp("ddlclean"), fixtures[1])


def _segments(log):
    """A (delivered first), then B and C: the even and the odd offsets
    above A — C lands on disk after B but below B's top."""
    cut = int(log.agg(F.max("offset")).first()[0]) // 3
    above = F.col("offset") > cut
    return (
        log.filter(~above),
        log.filter(above & (F.col("offset") % 2 == 0)),
        log.filter(above & (F.col("offset") % 2 == 1)),
    )


def test_mid_stream_drop_recreate_catches_up(spark, tmp_path, fixtures):
    """Review r4 #1: a DROP TABLE + CREATE TABLE of the SAME name in one
    DDL file leaves the name registered before and after — the heal
    must key off persistent state (stream_pos=-1), not an engine-set
    diff, or the recreated table silently loses its history. Healed
    through the delivered watermark, it equals a clean replay into a
    DDL-created table, each event counted once."""
    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    create_00 = CREATE_T1.replace("files_01", "files_00")
    expected = _ddl_clean(spark, tmp_path / "drclean", log, create_00, "files_00")
    log_dir = str(tmp_path / "drlog")
    log.coalesce(1).write.mode("append").parquet(log_dir)

    orch = MultiTableCDC(spark, str(tmp_path / "drroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.apply_batch(log)  # the stream delivered everything

    ddl_dir = tmp_path / "drctl"
    ddl_dir.mkdir()
    (ddl_dir / "001.sql").write_text(f"DROP TABLE repos.files_00;\n{create_00}")
    s = StreamingMultiTableCDC(
        orch, log_dir, str(tmp_path / "drsck"), ddl_dir=str(ddl_dir)
    )
    s._join_tables()  # the foreachBatch pre-batch step, driven directly
    assert _final(orch, "files_00") == expected
    assert _events_in(orch, "files_00") == _events(log, "files_00")


def test_ddl_table_applies_offsets_landing_below_disk_top(
    spark, tmp_path, fixtures, ddl_expected
):
    """A table a DDL file creates mid-stream is healed up to the
    delivered watermark only; everything above it comes from the
    stream. Changelog already on disk when the CREATE lands (B) must
    not stand in for delivery: offsets that land later below B's top
    (C) and arrive in one batch with B are applied, not absorbed."""
    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    seg_a, seg_b, seg_c = _segments(log)
    log_dir = str(tmp_path / "bslog")
    orch = MultiTableCDC(spark, str(tmp_path / "bsroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    seg_a.coalesce(1).write.mode("append").parquet(log_dir)
    orch.apply_batch(seg_a)
    assert orch.stream_watermark() == int(seg_a.agg(F.max("offset")).first()[0])

    seg_b.coalesce(1).write.mode("append").parquet(log_dir)
    ddl_dir = tmp_path / "bsctl"
    ddl_dir.mkdir()
    (ddl_dir / "001.sql").write_text(CREATE_T1)
    s = StreamingMultiTableCDC(orch, log_dir, str(tmp_path / "bssck"), ddl_dir=str(ddl_dir))
    # what the idle poller runs between batches, before C lands
    s._poll_ddl()
    s._heal_out_of_band_tables()
    assert "files_01" in orch.engines

    seg_c.coalesce(1).write.mode("append").parquet(log_dir)
    s._apply_batch(seg_b.unionByName(seg_c), 1)
    assert _final(orch, "files_01") == ddl_expected
    assert _events_in(orch, "files_01") == _events(log, "files_01")


def test_ddl_catchup_pending_and_scope(spark, tmp_path, fixtures, ddl_expected):
    """Review r4 pass 2: (a) an EMPTY changelog directory must not crash
    the DDL poll (schema-less parquet read); (b) before the stream has
    delivered a batch no table is replayed eagerly — neither one
    bootstrapped before the stream starts nor one a CREATE provisions:
    with the watermark at -1 both are owed history FROM the stream,
    even once files sit on disk; (c) the first batch delivers it, each
    event counted once."""
    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    log_dir = str(tmp_path / "pclog")
    os.makedirs(log_dir)  # EMPTY at stream start
    orch = MultiTableCDC(spark, str(tmp_path / "pcroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    n_snap_00 = _events_in(orch, "files_00")
    ddl_dir = tmp_path / "pcctl"
    ddl_dir.mkdir()
    (ddl_dir / "001.sql").write_text(CREATE_T1)
    s = StreamingMultiTableCDC(orch, log_dir, str(tmp_path / "pcsck"), ddl_dir=str(ddl_dir))

    s._join_tables()  # empty changelog: must not raise
    assert "files_01" in orch.engines
    log.coalesce(1).write.mode("append").parquet(log_dir)
    s._join_tables()
    for name in ("files_00", "files_01"):
        assert int(orch.engines[name].resume().get("stream_pos", -1)) == -1

    s._apply_batch(log, 0)
    assert _final(orch, "files_01") == ddl_expected
    assert _events_in(orch, "files_01") == _events(log, "files_01")
    assert _events_in(orch, "files_00") == n_snap_00 + _events(log, "files_00")


def test_crash_after_ddl_registration_converges(spark, tmp_path, fixtures, ddl_expected):
    """Crash after a CREATE registered its table, before any heal: the
    table's durable stream_pos=-1 is its whole record. A restart with
    fresh engine objects heals it to the watermark on its first trigger
    and streams the rest, converging to a clean replay with each event
    counted once. The pending-catch-up record that older releases wrote
    at this point is ignored: it replayed through the changelog's disk
    top, and offsets landing later below that top were lost."""
    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    seg_a, seg_b, seg_c = _segments(log)
    log_dir = str(tmp_path / "calog")
    root = tmp_path / "caroot"
    orch = MultiTableCDC(spark, str(root), num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    n_snap_00 = _events_in(orch, "files_00")
    seg_a.coalesce(1).write.mode("append").parquet(log_dir)
    orch.apply_batch(seg_a)
    seg_b.coalesce(1).write.mode("append").parquet(log_dir)
    orch.apply_ddl_statements([CREATE_T1])
    (root / "_ddl_pending_catchup.json").write_text('["files_01"]')

    # restart: fresh engines from the registry, a fresh stream driver
    orch2 = MultiTableCDC(spark, str(root), num_buckets=4)
    ddl_dir = tmp_path / "cactl"
    ddl_dir.mkdir()
    s2 = StreamingMultiTableCDC(orch2, log_dir, str(tmp_path / "casck"), ddl_dir=str(ddl_dir))
    # the restart's pre-start step, before C lands
    s2._poll_ddl()
    s2._heal_out_of_band_tables()
    seg_c.coalesce(1).write.mode("append").parquet(log_dir)
    s2._apply_batch(seg_b.unionByName(seg_c), 1)
    assert _final(orch2, "files_01") == ddl_expected
    assert _events_in(orch2, "files_01") == _events(log, "files_01")
    assert _events_in(orch2, "files_00") == n_snap_00 + _events(log, "files_00")


def test_healed_table_absorbs_redelivery_and_raises_on_span(spark, tmp_path, fixtures):
    """Crash after the watermark write, before the stream commits its
    batch: the restarted stream redelivers that batch, whose top IS the
    watermark. A table attached in between and healed to the watermark
    absorbs it like the table the stream advanced, each event counted
    once, with no stamp in its checkpoint. A batch genuinely spanning
    the healed position then raises, as it does for any table."""
    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC
    from debezium_incubator_spark.streaming.stream import OutOfOrderDeliveryError

    src, log = fixtures
    cut = int(log.agg(F.max("offset")).first()[0]) // 2
    first = log.filter(F.col("offset") <= cut)
    expected = _clean_run(spark, tmp_path, src, first, sub="rdclean")
    log_dir = str(tmp_path / "rdlog")
    first.coalesce(1).write.mode("append").parquet(log_dir)
    root = str(tmp_path / "rdroot")
    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    orch.apply_batch(first)  # watermark written; the stream never commits
    wm = orch.stream_watermark()
    counted = {"files_00": _events_in(orch, "files_00")}

    # restart with fresh engine objects; files_01 attaches before the
    # stream resumes, and the first trigger heals it, then redelivers
    orch2 = MultiTableCDC(spark, root, num_buckets=4)
    orch2.create_table("files_01")
    orch2.bootstrap(src)
    counted["files_01"] = _events_in(orch2, "files_01") + _events(first, "files_01")
    s2 = StreamingMultiTableCDC(orch2, log_dir, str(tmp_path / "rdsck"))
    s2._apply_batch(first, 0)
    for name in ("files_00", "files_01"):
        ck = orch2.engines[name].resume()
        assert int(ck["stream_pos"]) == wm
        assert "oob_replay_until" not in ck
        assert _events_in(orch2, name) == counted[name]
        assert _final(orch2, name) == _final(expected, name)

    span = log.filter((F.col("source.table") == "files_01") & (F.col("offset") > cut // 2))
    with pytest.raises(OutOfOrderDeliveryError, match="files_01"):
        orch2.apply_batch(span)


def test_out_of_band_attach_catches_up_to_watermark(spark, tmp_path, fixtures):
    """Review r4 pass 3 #2: a table attached via create_table+bootstrap
    BETWEEN stream runs sits at stream_pos=-1 while the file source's
    checkpoint is already past its history — the poll replays it through
    the durable stream watermark, so the final state matches a clean
    full run."""
    import time

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    expected = {n: _final(_clean_run(spark, tmp_path, src, log, sub="cleanoob"), n)
                for n in ("files_00", "files_01")}
    top = int(log.agg(F.max("offset")).first()[0])
    cut = int(log.agg(F.expr("percentile_approx(offset, 0.8)")).first()[0])

    log_dir = str(tmp_path / "oalog")
    log.filter(F.col("offset") <= cut).coalesce(1).write.mode("append").parquet(log_dir)
    root = str(tmp_path / "oaroot")
    sck = str(tmp_path / "oasck")
    ddl_dir = tmp_path / "oactl"
    ddl_dir.mkdir()

    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    s = StreamingMultiTableCDC(orch, log_dir, sck, ddl_dir=str(ddl_dir))
    s.run_until_caught_up(spark, timeout_s=180)  # consumes the first 80%
    assert orch.stream_watermark() > 0

    # operator attaches files_01 out-of-band between runs
    orch.create_table("files_01")
    orch.bootstrap(src)
    assert int(orch.engines["files_01"].store.latest().get("stream_pos", -1)) == -1

    # new tail lands; the restarted stream delivers ONLY it — files_01's
    # earlier history must come from the watermark-bounded catch-up
    time.sleep(0.05)
    log.filter(F.col("offset") > cut).coalesce(1).write.mode("append").parquet(log_dir)
    s2 = StreamingMultiTableCDC(orch, log_dir, sck, ddl_dir=str(ddl_dir))
    s2.run_until_caught_up(spark, timeout_s=180)

    for n in ("files_00", "files_01"):
        assert _final(orch, n) == expected[n]
        assert_marks_within_stream_pos(orch.engines[n].store)


def test_metrics_http_endpoints(spark, tmp_path):
    """M3 — the reference's four HTTP servlets (/ping /buildinfo
    /metrics /health, CassandraConnectorTask.java:115-127) served from
    the orchestrator's checkpoint-derived metrics, stdlib-only."""
    import json
    from urllib.request import urlopen

    from debezium_incubator_spark.monitoring import MetricsServer

    src = gen_source_table(spark, n_keys=40, n_repos=4, n_tables=2)
    orch = MultiTableCDC(spark, str(tmp_path / "mroot"), num_buckets=4)
    orch.create_table("files_00")
    orch.create_table("files_01")
    orch.bootstrap(src)

    server = MetricsServer(orch).start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        assert urlopen(f"{base}/ping", timeout=10).read() == b"pong"
        bi = json.load(urlopen(f"{base}/buildinfo", timeout=10))
        assert bi["service_name"] == "debezium-incubator-spark"
        m = json.load(urlopen(f"{base}/metrics", timeout=10))
        assert set(m) == {"files_00", "files_01"}
        assert m["files_00"]["counters"]["events_in"] > 0
        h = json.load(urlopen(f"{base}/health", timeout=10))
        assert h["healthy"] and h["phases"]["files_01"] == "stream"
        import urllib.error

        import pytest as _pytest

        with _pytest.raises(urllib.error.HTTPError) as ei:
            urlopen(f"{base}/nope", timeout=10)
        assert ei.value.code == 404
    finally:
        server.stop()


def test_archive_extra_paths_warn_matrix(spark, tmp_path):
    """The catch-up view serves _archive/ whenever it has segments, and
    warns only when the archive mark is set but the directory is empty."""
    import json
    import warnings as _warnings

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    orch = MultiTableCDC(spark, str(tmp_path / "root"), num_buckets=4)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    s = StreamingMultiTableCDC(orch, str(log_dir), str(tmp_path / "sck"))
    state = log_dir / "_gc_state.json"

    assert s._archive_extra_paths() == []  # no gc state at all

    # archived + files present → serve the archive, no warning
    (log_dir / "_archive").mkdir()
    (log_dir / "_archive" / "seg.parquet").write_bytes(b"x")
    state.write_text(json.dumps({"archived_through": 50}))
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert s._archive_extra_paths() == [str(log_dir / "_archive")]
    assert not w

    # archive mark set but directory drained (operator pruned) → warn
    (log_dir / "_archive" / "seg.parquet").unlink()
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert s._archive_extra_paths() == []
    assert any("holds no segments" in str(x.message) for x in w)


def test_out_of_band_attach_heals_through_archived_history(spark, tmp_path, fixtures):
    """VERDICT r4 #5: GC archives the delivered segments BEFORE a table
    attaches out-of-band — the catch-up must read the owed history from
    ``_archive/`` in place (no warning, no file moves) and converge to
    the clean run, instead of warning and producing a partial table."""
    import time
    import warnings as _warnings

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    src, log = fixtures
    expected = {n: _final(_clean_run(spark, tmp_path, src, log, sub="cleanarch"), n)
                for n in ("files_00", "files_01")}
    cut = int(log.agg(F.expr("percentile_approx(offset, 0.8)")).first()[0])

    log_dir = str(tmp_path / "arlog")
    log.filter(F.col("offset") <= cut).coalesce(1).write.mode("append").parquet(log_dir)
    root = str(tmp_path / "arroot")
    sck = str(tmp_path / "arsck")

    orch = MultiTableCDC(spark, root, num_buckets=4)
    orch.create_table("files_00")
    orch.bootstrap(src)
    s = StreamingMultiTableCDC(orch, log_dir, sck)
    s.run_until_caught_up(spark, timeout_s=180)  # consumes the first 80%

    # maintenance archives the fully-processed segment
    r = orch.maintain(changelog_dir=log_dir)
    assert len(r["archived"]) >= 1
    assert os.path.isdir(os.path.join(log_dir, "_archive"))

    # operator attaches files_01 AFTER the archive pass
    orch.create_table("files_01")
    orch.bootstrap(src)

    time.sleep(0.05)
    log.filter(F.col("offset") > cut).coalesce(1).write.mode("append").parquet(log_dir)
    s2 = StreamingMultiTableCDC(orch, log_dir, sck)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        s2.run_until_caught_up(spark, timeout_s=180)
    # the heal reads _archive/ in place — the "history unrecoverable"
    # warning must NOT fire (it means an empty archive)
    assert not [w for w in caught if "removed by GC" in str(w.message)]

    for n in ("files_00", "files_01"):
        assert _final(orch, n) == expected[n]


# -- poller lifecycle unit tests (no Spark needed: driver-side state) --


def _bare_streamer(tmp_path):
    """StreamingMultiTableCDC with a stub orch — the constructor only
    stores it (plus the changelog schema, which needs the session's
    active SparkContext), so the poller-state machinery can be
    exercised without a registered table or a running query."""
    import types

    from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

    orch = types.SimpleNamespace(root=str(tmp_path), engines={})
    return StreamingMultiTableCDC(orch, str(tmp_path / "log"), str(tmp_path / "sck"))


def test_stale_poller_error_grace_window(spark, tmp_path):
    """A poll failure younger than ~3 intervals is retried silently (the
    pending-file record is only written on success); one that persisted
    past the grace window is surfaced exactly once and clears the slot."""
    import time

    s = _bare_streamer(tmp_path)
    assert s._stale_poller_error() is None  # no error recorded

    boom = RuntimeError("transient")
    s._poller_error = boom
    s._poller_error_ts = time.monotonic()
    assert s._stale_poller_error() is None  # fresh → grace, retry wins
    assert s._poller_error is boom  # left in place for the next tick

    s._poller_error_ts = time.monotonic() - 10.0  # > 3 * 1.0s interval
    assert s._stale_poller_error() is boom  # persisted → surfaced
    assert s._poller_error is None  # slot cleared: raised at most once
    assert s._stale_poller_error() is None


def test_stop_poller_timeout_raises_then_rejoins(spark, tmp_path):
    """stop_poller must NOT report success while a poll/catch-up is
    still in flight (that is the compaction race it exists to prevent):
    it raises TimeoutError, keeps the thread handle, and a retry after
    the poll finishes joins cleanly."""
    import threading
    import time

    s = _bare_streamer(tmp_path)
    s._poller_stop = threading.Event()
    release = threading.Event()
    t = threading.Thread(target=release.wait, daemon=True)  # stuck "catch-up"
    t.start()
    s._poller = t

    with pytest.raises(TimeoutError):
        s.stop_poller(timeout_s=0.2)
    assert s._poller is t  # handle kept so the retry can re-join

    release.set()
    time.sleep(0.05)
    s.stop_poller(timeout_s=5.0)  # in-flight work done → clean join
    assert s._poller is None
    s.stop_poller()  # idempotent with no poller
