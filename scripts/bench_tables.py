"""Table-count scaling probe (VERDICT r4 #6): sec/trigger and Spark
jobs/trigger of the orchestrator's apply_batch as the registered-table
count grows while the EVENT stream stays fixed (4 active tables) — the
extra tables are mostly-idle heartbeaters, the steady state of a
50+-table agent where a trigger's rows touch a handful of hot tables.
One untimed trigger first routes an early slice of the log to EVERY
table, so each idle table carries its own replay-guard marks, as a
table that streamed before does.

Usage: python scripts/bench_tables.py [table_counts ...]   (default 4 16 64)
Prints one JSON line: {"probe": "table_count", "rows": [{tables, sec,
triggers, sec_per_trigger, jobs_per_trigger}, ...]}. Jobs are counted
from the Spark status tracker's job ids before and after the triggers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def probe(spark, n_tables: int, work_root: str, triggers: int = 4) -> dict:
    from debezium_incubator_spark.plans.orchestrator import MultiTableCDC
    from debezium_incubator_spark.sources.generator import (
        gen_changelog,
        gen_source_table,
    )

    root = f"{work_root}/tbl_probe_{n_tables}"
    shutil.rmtree(root, ignore_errors=True)
    # events route to 4 ACTIVE tables; the rest only heartbeat
    src = gen_source_table(spark, n_keys=2_000, n_repos=20, n_tables=4).persist()
    log = gen_changelog(
        spark, n_keys=2_000, n_repos=20, n_slots=8_000, n_tables=4
    ).persist()
    top = int(log.agg(F.max("offset")).first()[0])

    orch = MultiTableCDC(spark, root, num_buckets=4)
    for i in range(n_tables):
        orch.create_table(f"files_{i:02d}")
    orch.bootstrap(src)

    tracker = spark.sparkContext.statusTracker()
    prime = top // (triggers + 1)
    route = F.format_string("files_%02d", F.pmod(F.xxhash64("offset"), F.lit(n_tables)))
    orch.apply_batch(
        log.filter(F.col("offset") <= prime).withColumn(
            "source", F.col("source").withField("table", route)
        )
    )

    jobs_before = set(tracker.getJobIdsForGroup(None))
    t0 = time.time()
    lo = prime
    for k in range(triggers):
        cut = top if k == triggers - 1 else prime + ((top - prime) * (k + 1)) // triggers
        orch.apply_batch(log.filter((F.col("offset") > lo) & (F.col("offset") <= cut)))
        lo = cut
    wall = time.time() - t0
    jobs = len(set(tracker.getJobIdsForGroup(None)) - jobs_before)
    src.unpersist()
    log.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    return {
        "tables": n_tables,
        "sec": round(wall, 3),
        "triggers": triggers,
        "sec_per_trigger": round(wall / triggers, 3),
        "jobs_per_trigger": round(jobs / triggers, 2),
    }


def main():
    from debezium_incubator_spark.session import get_spark

    counts = [int(a) for a in sys.argv[1:]] or [4, 16, 64]
    work_root = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    local_dir = f"{work_root}/cdc_tblprobe_local"
    spark = get_spark(
        app_name="bench_tables",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={"spark.local.dir": local_dir},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warmup run amortizes session codegen
    probe(spark, counts[0], work_root, triggers=2)
    rows = [probe(spark, n, work_root) for n in counts]
    print(json.dumps({"probe": "table_count", "rows": rows}))


if __name__ == "__main__":
    main()
