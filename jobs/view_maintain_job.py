"""spark-submit entry point: maintain a durable materialized aggregate
view over the lake table — the dashboard-style consumer of the CDC
engine's output. From the checkout root:

    zip -qr /tmp/engine.zip debezium_incubator_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        jobs/view_maintain_job.py \
        --table /data/files --view /data/files_by_repo \
        --group-cols repo --measure-cols size_bytes --extreme-cols size_bytes

Each run brings the view to the table's current version by
re-aggregating only the buckets whose files changed since the view's
``folded_through`` (operators/views.py). Exactly-once: the
folded-through version rides the same manifest commit as the new view
state, so a crash mid-run leaves the previous view current and the
retry recomputes from the immutable table version. Safe to re-run any
time; a caught-up run is a no-op. ``--expire-keep`` reclaims superseded
view states afterwards (keep ≥2 for concurrent readers).
"""

from __future__ import annotations

import argparse
import json


def _cols(s: str | None) -> list[str]:
    return [c.strip() for c in s.split(",") if c.strip()] if s else []


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True, help="lake table path")
    p.add_argument("--view", required=True, help="view state dir")
    p.add_argument("--group-cols", required=True, help="comma-separated")
    p.add_argument("--measure-cols", help="comma-separated (empty = count-only view)")
    p.add_argument("--extreme-cols", help="comma-separated min/max columns")
    p.add_argument(
        "--rebuild",
        action="store_true",
        help="full rebuild at the current table version",
    )
    p.add_argument("--expire-keep", type=int, default=0,
                   help="if >0, expire superseded view states, keeping N")
    p.add_argument("--follow", action="store_true",
                   help="after the first refresh, keep polling the table "
                   "and folding new versions (continuous maintenance)")
    p.add_argument("--poll-interval", type=float, default=5.0)
    p.add_argument("--max-refreshes", type=int, default=0,
                   help="with --follow: stop after N refresh passes "
                   "(0 = run until killed); handy for drains and tests")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from debezium_incubator_spark.operators.views import MaterializedAggView

    spark = SparkSession.builder.appName("view-maintain").getOrCreate()
    mv = MaterializedAggView(
        spark,
        args.view,
        args.table,
        group_cols=_cols(args.group_cols),
        measure_cols=_cols(args.measure_cols),
        extreme_cols=_cols(args.extreme_cols),
    )

    actions = []
    if args.rebuild or mv.version() == 0:
        mv.build()
        actions.append("build")
        out = {"folded_through": mv.meta()["folded_through"]}
    if args.follow:
        # build-then-follow on a fresh view: a service deployed with
        # --follow must enter the tail loop, not exit after the build
        stop = (
            (lambda s: s["refreshes"] >= args.max_refreshes)
            if args.max_refreshes > 0
            else (lambda s: False)  # service mode: run until killed
        )
        res = mv.follow(poll_interval_s=args.poll_interval, run_until=stop)
        actions.append("follow")
        out = res
    elif not actions:
        res = mv.refresh()
        actions.append("refresh")
        out = res
    out = {"action": "+".join(actions), **out}

    if args.expire_keep > 0:
        out["expired"] = mv.expire(keep_last=args.expire_keep)

    out["version"] = mv.version()
    out["groups"] = mv.read().count()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
