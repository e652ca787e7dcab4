"""spark-submit entry point for MULTI-TABLE CDC apply.

One changelog drives every CDC-enabled table (≙ the reference agent
capturing all tables: snapshot loop SnapshotProcessor.java:132-137,
per-table offsets FileOffsetWriter.java:75-118):

    cd /root/repo && zip -qr /tmp/engine.zip debezium_incubator_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        jobs/multi_apply_job.py \
        --root /data/lake/cdc --changelog /data/changelog \
        --source /data/source_snapshot --tables files_00,files_01 \
        --num-buckets 512 --offsets-per-epoch 5000000

The table set is durable (--root/_registry.json): re-runs reconstruct
every registered engine and resume each from its own checkpoint.
``--ddl-file`` applies a file of DDL statements (one per line or
;-separated) BEFORE the stream phase — CREATE TABLE statements provision
new tables that then replay the changelog history. With
``--mode stream|continuous`` the job attaches via Structured Streaming
(one readStream fanned out to every table inside foreachBatch on a
driver thread pool); ``--ddl-dir`` then opens the MID-STREAM DDL
channel — .sql files landing there apply between micro-batches of the
running trigger.
"""

from __future__ import annotations

import argparse
import json
import os


def split_ddl_script(text: str) -> list[str]:
    """Statement splitter — shared with the streaming DDL channel
    (sources/ddl.py owns the implementation)."""
    from debezium_incubator_spark.sources.ddl import split_ddl_script as _split

    return _split(text)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True, help="orchestrator root (tables/ ckpt/ registry)")
    p.add_argument("--changelog", required=True)
    p.add_argument("--source", help="snapshot parquet carrying a src_table column")
    p.add_argument("--tables", help="comma-separated table names to register")
    p.add_argument("--ddl-file", help="file of DDL statements applied before streaming")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--offsets-per-epoch", type=int, default=1_000_000)
    p.add_argument("--source-table-col", default="src_table")
    p.add_argument("--mode", choices=["batch", "stream", "continuous"], default="batch",
                   help="batch = offset-sliced catch-up loop; stream = "
                        "availableNow Structured-Streaming drain; continuous = "
                        "indefinite processingTime watch")
    p.add_argument("--trigger-interval", default="10 seconds",
                   help="processingTime interval for --mode continuous")
    p.add_argument("--max-runtime", type=float,
                   help="stop the continuous watch after N seconds")
    p.add_argument("--ddl-dir",
                   help="DDL control directory for stream/continuous modes: .sql "
                        "files landing here apply MID-STREAM between micro-batches "
                        "(CREATE TABLE provisions + replays history)")
    p.add_argument("--max-parallel-tables", type=int, default=8,
                   help="driver thread pool driving per-table merges concurrently "
                        "(1 = sequential)")
    p.add_argument("--maintain", action="store_true",
                   help="after catch-up: per-table compaction/version GC + "
                        "archival of every shared-changelog file whose offsets "
                        "are all ≤ the lowest table stream position")
    p.add_argument("--http-port", type=int,
                   help="serve /ping /buildinfo /metrics /health on this port "
                        "while the job runs (M3, ≙ the reference's embedded "
                        "HTTP server; 0 = ephemeral)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from debezium_incubator_spark.plans.orchestrator import MultiTableCDC
    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    spark = SparkSession.builder.appName("cdc-multi-apply").getOrCreate()
    orch = MultiTableCDC(
        spark, args.root,
        max_parallel_tables=args.max_parallel_tables,
        num_buckets=args.num_buckets,
    )
    for name in (args.tables or "").split(","):
        if name.strip():
            orch.create_table(name.strip())

    server = None
    if args.http_port is not None:
        from debezium_incubator_spark.monitoring import MetricsServer

        server = MetricsServer(orch, port=args.http_port, host="0.0.0.0").start()
        print(json.dumps({"metrics_port": server.port}), flush=True)

    if args.ddl_file:
        with open(args.ddl_file) as f:
            orch.apply_ddl_statements(split_ddl_script(f.read()))

    if args.source:
        src = spark.read.parquet(args.source)
        orch.bootstrap(src, table_col=args.source_table_col)

    if args.mode == "batch":
        orch.run(ParquetChangelog(args.changelog), offsets_per_epoch=args.offsets_per_epoch)
    else:
        from debezium_incubator_spark.plans.orchestrator import StreamingMultiTableCDC

        s = StreamingMultiTableCDC(
            orch, args.changelog, os.path.join(args.root, "_stream_ckpt"),
            ddl_dir=args.ddl_dir,
        )
        if args.mode == "stream":
            s.run_until_caught_up(spark)
        else:
            q = s.start(spark, processing_time=args.trigger_interval)
            if args.max_runtime is not None:
                q.awaitTermination(args.max_runtime)
                q.stop()
            else:
                q.awaitTermination()
            # no catch-up may outlive the query: --maintain below would
            # otherwise race a live replay with compaction/version GC
            s.stop_poller()
            if s._poller_error is not None:
                raise s._poller_error
    if args.maintain:
        orch.maintain(changelog_dir=args.changelog)
    if server is not None:
        server.stop()
    print(json.dumps(orch.metrics()))
    spark.stop()


if __name__ == "__main__":
    main()
