"""applyInPandasWithState change compaction: state must absorb replays
ACROSS micro-batches (the cross-batch guarantee foreachBatch gets from
the checkpoint, here from Spark's state store)."""

import os
import time

from pyspark.sql import functions as F

from debezium_incubator_spark.streaming.stateful import lww_changes_stream

SCHEMA = "offset long, op string, repo string, path string, v string"


def _write_batch(spark, d, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(d)
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def test_stateful_lww_absorbs_cross_batch_replays(spark, tmp_path):
    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    # batch 1: two keys, key a twice (in-batch LWW picks offset 3)
    _write_batch(spark, d, [
        (1, "c", "r", "a", "v1"),
        (3, "u", "r", "a", "v3"),
        (2, "c", "r", "b", "v2"),
    ], "b1")
    # batch 2: stale replay of a@3 (absorbed), regression a@1 (absorbed),
    # progress b@5, delete a@6
    _write_batch(spark, d, [
        (3, "u", "r", "a", "v3"),
        (1, "c", "r", "a", "v1"),
        (5, "u", "r", "b", "v5"),
        (6, "d", "r", "a", None),
    ], "b2")

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(d)
    changes = lww_changes_stream(stream, ["repo", "path"], ["v"])
    q = (
        changes.writeStream.format("memory")
        .queryName("lww_changes")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = [
        (r["offset"], r["op"], r["path"], r["v"])
        for r in spark.sql("SELECT * FROM lww_changes ORDER BY offset").collect()
    ]
    # emitted: a@3 (batch1 winner), b@2, then b@5 and the delete a@6;
    # the batch-2 replays of a@3/a@1 emit NOTHING (state remembered 3)
    assert got == [
        (2, "c", "b", "v2"),
        (3, "u", "a", "v3"),
        (5, "u", "b", "v5"),
        (6, "d", "a", None),
    ]
