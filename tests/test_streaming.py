"""Structured-Streaming wrapper: readStream + foreachBatch over the same
exactly-once core must converge to the identical final state as the
batch loop (streaming is just the driver loop, ≙ AbstractProcessor
while-loop around process())."""

import os
import time

from debezium_incubator_spark.plans.pipeline import CDCEngine
from debezium_incubator_spark.sources.changelog import DataFrameChangelog
from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table
from debezium_incubator_spark.streaming.stream import StreamingCDC
from tests.helpers import assert_marks_within_stream_pos, state_pdf


def test_streaming_matches_batch(spark, tmp_path):
    src = gen_source_table(spark, n_keys=80, n_repos=6)
    log = gen_changelog(spark, n_keys=80, n_repos=6, n_slots=300)

    # batch reference
    b = tmp_path / "batch"
    eb = CDCEngine(spark, str(b / "t"), str(b / "c"), num_buckets=4)
    eb.create_target()
    eb.bootstrap(src)
    eb.run(DataFrameChangelog(log), offsets_per_epoch=600)
    expected = state_pdf(eb)

    # streaming: changelog as ordered segment files (≙ commit-log files
    # appear in order; per-file offset ranges are monotone)
    log_dir = str(tmp_path / "chlog")
    pdf = log.orderBy("offset")
    n = 2
    bounds = [i * (1200 // n) for i in range(n + 1)]
    from pyspark.sql import functions as F

    for i in range(n):
        part = pdf.filter(
            (F.col("offset") >= bounds[i]) & (F.col("offset") < bounds[i + 1])
        )
        part.coalesce(1).write.mode("append").parquet(log_dir)
        time.sleep(0.05)  # distinct mtimes → deterministic file order

    s = tmp_path / "stream"
    es = CDCEngine(spark, str(s / "t"), str(s / "c"), num_buckets=4)
    es.create_target()
    es.bootstrap(src)
    scdc = StreamingCDC(es, log_dir, str(s / "sck"), max_files_per_trigger=1)
    scdc.run_until_caught_up(spark, timeout_s=240)

    got = state_pdf(es)
    assert got.equals(expected)
    assert es.metrics()["epoch"] >= 2  # processed as multiple micro-batches
    assert_marks_within_stream_pos(es.store)


def test_continuous_trigger_picks_up_new_files(spark, tmp_path):
    """processingTime trigger: the stream watches the directory
    INDEFINITELY (≙ AbstractDirectoryWatcher.java:40-53) — files landed
    AFTER the query starts are picked up; run_until stops it once the
    engine catches up to the full changelog."""
    from pyspark.sql import functions as F

    src = gen_source_table(spark, n_keys=60, n_repos=5)
    log = gen_changelog(spark, n_keys=60, n_repos=5, n_slots=200)
    top = int(log.agg(F.max("offset")).first()[0])

    # batch reference for the converged state
    b = tmp_path / "batch"
    eb = CDCEngine(spark, str(b / "t"), str(b / "c"), num_buckets=4)
    eb.create_target()
    eb.bootstrap(src)
    eb.run(DataFrameChangelog(log), offsets_per_epoch=1000)
    expected = state_pdf(eb)

    log_dir = str(tmp_path / "chlog2")
    os.makedirs(log_dir, exist_ok=True)
    pdf = log.orderBy("offset")
    half = top // 2
    pdf.filter(F.col("offset") <= half).coalesce(1).write.mode("append").parquet(log_dir)

    s = tmp_path / "stream2"
    es = CDCEngine(spark, str(s / "t"), str(s / "c"), num_buckets=4)
    es.create_target()
    es.bootstrap(src)
    scdc = StreamingCDC(es, log_dir, str(s / "sck"), max_files_per_trigger=4)

    import threading

    def land_second_half():
        time.sleep(3.0)  # after the query is running
        pdf.filter(F.col("offset") > half).coalesce(1).write.mode("append").parquet(log_dir)

    t = threading.Thread(target=land_second_half)
    t.start()
    try:
        scdc.run_until(
            spark,
            stop_condition=lambda e: int(
                e._reconcile(e.store.latest()).get("stream_pos", -1)
            ) >= top,
            processing_time="1 seconds",
            timeout_s=240,
        )
    finally:
        t.join()
    assert state_pdf(es).equals(expected)
