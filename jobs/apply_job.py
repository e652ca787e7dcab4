"""spark-submit entry point for the CDC apply pipeline.

Deployment shape per the north rule: the engine package ships as a zip
via ``--py-files``; this driver script is the job:

    cd /root/repo && zip -qr /tmp/engine.zip debezium_incubator_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        jobs/apply_job.py \
        --table /data/lake/files --checkpoint /data/ckpt/files \
        --changelog /data/changelog --source /data/source_snapshot \
        --mode batch --offsets-per-epoch 5000000 --num-buckets 512

Modes:
  batch      — snapshot bootstrap (if needed) + catch-up over the
               changelog (resumable from the checkpoint; safe to re-run)
  stream     — same, then stay attached via Structured Streaming
               (availableNow per invocation; wrap in a scheduler for 24/7)
  continuous — indefinite directory watch (processingTime trigger,
               ≙ AbstractDirectoryWatcher); --max-runtime bounds it

On a 1000-executor cluster the only knobs that matter are
--num-buckets (≈ executors × 4) and --offsets-per-epoch (events per
transactional commit).
"""

from __future__ import annotations

import argparse
import json


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--changelog", required=True)
    p.add_argument("--source", help="source table parquet for the snapshot phase")
    p.add_argument("--mode", choices=["batch", "stream", "continuous"], default="batch")
    p.add_argument("--trigger-interval", default="10 seconds",
                   help="processingTime interval for --mode continuous")
    p.add_argument("--max-runtime", type=float,
                   help="stop the continuous watch after N seconds (default: run forever)")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--offsets-per-epoch", type=int, default=1_000_000)
    p.add_argument("--include-regex")
    p.add_argument("--exclude-regex")
    p.add_argument("--field-blacklist", help="comma-separated payload fields to drop")
    p.add_argument("--expire-changelog", action="store_true",
                   help="after catch-up, archive every changelog file whose offsets "
                        "are all ≤ the table's stream position")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from debezium_incubator_spark.lake.table import LakeTable
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    spark = SparkSession.builder.appName("cdc-apply").getOrCreate()
    eng = CDCEngine(
        spark,
        args.table,
        args.checkpoint,
        num_buckets=args.num_buckets,
        include_regex=args.include_regex,
        exclude_regex=args.exclude_regex,
        field_blacklist=args.field_blacklist.split(",") if args.field_blacklist else None,
    )
    if not LakeTable.exists(args.table):
        eng.create_target()

    ckpt = eng.store.latest()
    if ckpt["phase"] == "snapshot":
        if not args.source:
            raise SystemExit("--source is required for the initial snapshot phase")
        eng.bootstrap(spark.read.parquet(args.source))

    changelog = ParquetChangelog(args.changelog)
    if args.mode == "batch":
        eng.run(changelog, offsets_per_epoch=args.offsets_per_epoch)
    elif args.mode == "stream":
        from debezium_incubator_spark.streaming.stream import StreamingCDC

        scdc = StreamingCDC(eng, args.changelog, f"{args.checkpoint}/_stream")
        scdc.run_until_caught_up(spark)
    else:
        from debezium_incubator_spark.streaming.stream import StreamingCDC

        scdc = StreamingCDC(eng, args.changelog, f"{args.checkpoint}/_stream")
        q = scdc.start(spark, processing_time=args.trigger_interval)
        if args.max_runtime is not None:
            q.awaitTermination(args.max_runtime)
            q.stop()
        else:
            q.awaitTermination()

    if args.expire_changelog:
        from debezium_incubator_spark.sources.gc import expire_changelog_files

        expire_changelog_files(args.changelog, eng.metrics()["stream_pos"])

    print(json.dumps(eng.metrics()))
    spark.stop()


if __name__ == "__main__":
    main()
