"""Micro-bench: stateful change-feed compaction (applyInPandasWithState)
at >=100k keys per micro-batch — the per-key Python constant cost is the
scale limit (VERDICT r2 #10). Prints one JSON line.

Usage: python scripts/bench_stateful.py [n_keys] [events_per_key]
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from debezium_incubator_spark import get_spark
from debezium_incubator_spark.streaming.stateful import lww_changes_stream


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    per_key = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench_stateful", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="bench_stateful_")
    src_dir = os.path.join(work, "events")
    n = n_keys * per_key
    (
        spark.range(n)
        .select(
            F.concat(F.lit("r"), F.pmod(F.col("id"), F.lit(n_keys)).cast("string")).alias("repo"),
            F.lit("p").alias("path"),
            F.col("id").alias("offset"),
            F.lit("u").alias("op"),
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
        )
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    schema = spark.read.parquet(src_dir).schema

    counts = []

    def sink(df, _epoch):
        counts.append(df.count())

    t0 = time.monotonic()
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = lww_changes_stream(stream, ["repo", "path"], ["commit"])
    q = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    wall = time.monotonic() - t0
    emitted = sum(counts)
    assert emitted == n_keys, f"expected {n_keys} compacted rows, got {emitted}"
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "stateful_compaction_keys_per_sec",
                "value": round(n_keys / wall, 1),
                "unit": "keys/sec",
                "n_keys": n_keys,
                "events": n,
                "wall_sec": round(wall, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
