"""Replay suite (≙ OracleConnectorIT restart/resume tests :293-367 and
the exactly-once contract): apply N epochs, rewind to every checkpoint
k, re-run → final state byte-identical under the sha256 invariant."""

import pytest

from debezium_incubator_spark.plans.pipeline import CDCEngine
from debezium_incubator_spark.sources.changelog import DataFrameChangelog
from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
from tests.helpers import assert_marks_within_stream_pos, expected_final_state, state_pdf

N_KEYS, N_REPOS, N_SLOTS = 200, 8, 800


@pytest.fixture(scope="module")
def data(spark):
    src = gen_source_table(spark, n_keys=N_KEYS, n_repos=N_REPOS)
    log = gen_changelog(spark, n_keys=N_KEYS, n_repos=N_REPOS, n_slots=N_SLOTS)
    return src, log


@pytest.fixture(scope="module")
def baseline(spark, data, tmp_path_factory):
    src, log = data
    base = tmp_path_factory.mktemp("replay")
    eng = CDCEngine(spark, str(base / "table"), str(base / "ckpt"), num_buckets=8)
    eng.create_target()
    eng.bootstrap(src)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    return eng, state_pdf(eng), str(base)


def test_final_state_matches_independent_oracle(spark, data, baseline, tmp_path):
    src, log = data
    eng, final, _ = baseline
    exp = expected_final_state(spark, src, log, tmp_path)
    assert final.equals(exp)
    assert_marks_within_stream_pos(eng.store)


def test_replay_from_every_checkpoint(spark, data, baseline):
    src, log = data
    eng, final, base = baseline
    epochs = eng.store.epochs()
    assert len(epochs) >= 4
    for k in epochs[:-1]:
        eng.store.rewind_to(k)
        eng2 = CDCEngine(spark, f"{base}/table", f"{base}/ckpt", num_buckets=8)
        eng2.run(DataFrameChangelog(log), offsets_per_epoch=1000)
        assert state_pdf(eng2).equals(final), f"replay from epoch {k} diverged"


def test_crash_between_commit_and_checkpoint_recovers(spark, data, baseline):
    """Simulate the torn state: table commit for epoch k+1 exists but
    checkpoint still points at k → engine must rebuild the checkpoint
    from the commit summary and NOT re-apply."""
    src, log = data
    eng, final, base = baseline
    last = eng.store.latest()["epoch"]
    eng.store.rewind_to(last - 1)  # table summary is now 'ahead'
    v_before = eng.table.version()
    eng2 = CDCEngine(spark, f"{base}/table", f"{base}/ckpt", num_buckets=8)
    eng2.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    assert eng2.table.version() == v_before  # no new data commit
    assert eng2.store.latest()["epoch"] == last
    assert state_pdf(eng2).equals(final)


def test_full_log_reapply_is_noop(spark, data, baseline):
    src, log = data
    eng, final, base = baseline
    ck = eng.store.latest()
    eng.apply_epoch(log, stream_pos=ck["stream_pos"])  # entire changelog again
    assert state_pdf(eng).equals(final)


def test_snapshot_not_repeated_after_offsets_exist(spark, data, baseline):
    """≙ SnapshotProcessorTest.java:83-108 (empty/complete snapshot is
    never redone) + OracleSnapshotChangeEventSource.java:55-69."""
    src, log = data
    eng, final, base = baseline
    v = eng.table.version()
    ck = eng.bootstrap(src)  # phase is 'stream' → must be a no-op
    assert eng.table.version() == v
    assert ck["epoch"] == eng.store.latest()["epoch"]
