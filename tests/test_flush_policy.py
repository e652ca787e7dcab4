"""K2 — offset flush policy 'always' (OffsetFlushPolicy.java:19-52: one
checkpoint per epoch, Spark's natural unit) with manifest-chain
checkpoint recovery, and the stream position /metrics serves from it."""

import json
from urllib.request import urlopen

from debezium_incubator_spark.monitoring import MetricsServer
from debezium_incubator_spark.plans.pipeline import CDCEngine
from debezium_incubator_spark.sources.changelog import DataFrameChangelog
from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
from tests.helpers import state_pdf


def _run(spark, base, src, log):
    eng = CDCEngine(spark, f"{base}/t", f"{base}/c", num_buckets=4)
    eng.create_target()
    eng.bootstrap(src)
    eng.run(DataFrameChangelog(log), offsets_per_epoch=600)
    return eng


def test_metrics_serve_stream_pos(spark, tmp_path):
    """/metrics serves the persisted stream position, so a scraper reads
    the lag in offsets as the source's top minus ``stream_pos``."""
    src = gen_source_table(spark, n_keys=60, n_repos=3)
    log = gen_changelog(spark, n_keys=60, n_repos=3, n_slots=400)
    eng = CDCEngine(spark, str(tmp_path / "t"), str(tmp_path / "c"), num_buckets=4)
    eng.create_target()
    eng.bootstrap(src)
    cl = DataFrameChangelog(log)
    applied = eng.run(cl, offsets_per_epoch=100, max_epochs=2)
    server = MetricsServer(eng).start()
    try:
        m = json.load(urlopen(f"http://127.0.0.1:{server.port}/metrics", timeout=10))
    finally:
        server.stop()
    assert m["stream_pos"] == applied[-1]["stream_pos"] == 199
    assert cl.max_offset(spark) - m["stream_pos"] > 0


def test_manifest_chain_recovery_over_multiple_epochs(spark, tmp_path):
    """Checkpoint rewound several epochs behind the table: _reconcile
    folds the manifest summary chain forward without re-applying data."""
    src = gen_source_table(spark, n_keys=120, n_repos=5)
    log = gen_changelog(spark, n_keys=120, n_repos=5, n_slots=700)
    eng = _run(spark, str(tmp_path / "r"), src, log)
    final = state_pdf(eng)
    last_epoch = eng.store.latest()["epoch"]
    assert last_epoch >= 4
    v_before = eng.table.version()

    eng.store.rewind_to(0)  # checkpoint 4+ epochs behind the table
    eng2 = CDCEngine(
        spark, str(tmp_path / "r/t"), str(tmp_path / "r/c"), num_buckets=4
    )
    ck = eng2._reconcile(eng2.store.latest())
    assert ck["epoch"] == last_epoch  # fully rebuilt from summaries
    assert eng2.table.version() == v_before  # no data re-applied
    eng2.run(DataFrameChangelog(log), offsets_per_epoch=600)
    assert eng2.table.version() == v_before  # nothing left to do
    assert state_pdf(eng2).equals(final)
