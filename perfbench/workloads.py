"""The workloads. Each has a ``warm_up`` (part of set-up), a timed
``measure`` and a ``verify`` run outside the timed region. The work a
workload measures is fixed by its inputs and the constants below, not
by ``--seconds``: catchup times two whole cycles, and trickle offers its
segments at a fixed rate (``--seconds`` only lengthens its schedule
beyond the minimum).

``measure`` returns the workload's own metrics plus its values for the
three cross-workload end-to-end metrics (see README.md):

* ``primary_s``   — catchup parity_s, trickle freshness_p50_s
* ``secondary_s`` — catchup snapshot_s, trickle view_freshness_p50_s
* ``rate_per_s``  — catchup catchup_events_per_s, trickle events per
                    second of trigger time

``ctx.window()`` marks the merge path for the status-store figures of
the traced run: catchup's drain legs and trickle's stream.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import threading
import time

import oracle
from harness import (
    VIEW_JOB_GROUP,
    median,
    backlog_growth,
    generator_lateness,
    open_loop_latencies,
    percentile,
    tail_percentile,
)
from inputs import SPECS, parquet_files

NUM_BUCKETS = 8
FUSED_MIN_EVENTS = 100_000  # operators/merge.py: broadcast only up to max(target/4, 100k)
TRIGGER = "250 milliseconds"


class Ctx:
    def __init__(self, spark, ncpu: int, seconds: float, inputs: str, work: str):
        self.spark = spark
        self.ncpu = ncpu
        self.seconds = seconds
        self.inputs = inputs
        self.work = work
        # marks the merge path; the traced run swaps in StageCounter.window
        self.window = contextlib.nullcontext

    def fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _engine(spark, root: str):
    from debezium_incubator_spark.plans.pipeline import CDCEngine

    return CDCEngine(
        spark, os.path.join(root, "table"), os.path.join(root, "ckpt"), num_buckets=NUM_BUCKETS
    )


def _result(named: dict, primary: float, secondary: float, rate: float,
            attempted: int, failed: int, layer: dict | None = None) -> dict:
    return {
        "named": named,
        "primary_s": primary,
        "secondary_s": secondary,
        "rate_per_s": rate,
        "attempted": attempted,
        "failed": failed,
        "layer": layer or {},
    }


# ---------------------------------------------------------------- catchup
class Catchup:
    """Closed loop, one driver: snapshot bootstrap, then drain the whole
    backlog through ``CDCEngine.run`` in one epoch above the fused gate."""

    name = "catchup"
    # the JIT is still warming up after the untimed cycle of the warm-up
    # (the cycle after it ran ~30 % faster than the first timed one), so
    # the figures are medians of two timed cycles
    CYCLES = 2

    def __init__(self, ctx: Ctx):
        self.spec = SPECS[self.name]
        self.src = os.path.join(ctx.inputs, "src")
        self.log = os.path.join(ctx.inputs, "log")
        self.engine = None

    def _cycle(self, ctx: Ctx, window=contextlib.nullcontext):
        """Bootstrap a fresh table, then drain the whole backlog; returns
        (snapshot end, drain end, events drained, epochs) with times from
        the cycle's start."""
        from debezium_incubator_spark.sources.changelog import ParquetChangelog

        self.engine = eng = _engine(ctx.spark, ctx.fresh("cycle"))
        t0 = time.perf_counter()
        eng.create_target()
        ck0 = eng.bootstrap(ctx.spark.read.parquet(self.src))
        t1 = time.perf_counter()
        with window():
            applied = eng.run(
                ParquetChangelog(self.log), offsets_per_epoch=4 * self.spec["epoch_slots"]
            )
        t2 = time.perf_counter()
        seen = ck0["counters"]["events_in"]
        prev_version = ck0["table_version"]
        for ck in applied:
            n = ck["counters"]["events_in"] - seen
            target = eng.table.row_count(manifest=eng.table.manifest(prev_version))
            self.gate_ok &= n > max(target // 4, FUSED_MIN_EVENTS)
            seen, prev_version = ck["counters"]["events_in"], ck["table_version"]
        return t1 - t0, t2 - t0, seen - ck0["counters"]["events_in"], len(applied)

    def warm_up(self, ctx: Ctx) -> None:
        """One untimed cycle: compiles the bootstrap and the fused path."""
        self.gate_ok = True
        self._cycle(ctx)

    def measure(self, ctx: Ctx) -> dict:
        snapshot, parity, rates, attempted = [], [], [], 0
        for _ in range(self.CYCLES):
            snap, par, events, epochs = self._cycle(ctx, ctx.window)
            snapshot.append(snap)
            parity.append(par)
            rates.append(events / (par - snap))
            attempted += 1 + epochs
        named = {
            "parity_s": (median(parity), "s"),
            "snapshot_s": (median(snapshot), "s"),
            "catchup_events_per_s": (median(rates), "1/s"),
        }
        return _result(named, median(parity), median(snapshot), median(rates), attempted, 0)

    def verify(self, ctx: Ctx) -> list[str]:
        problems = []
        if not self.gate_ok:
            problems.append("catchup: an epoch fell below the fused-merge gate")
        log_files = parquet_files(self.log)
        return problems + oracle.check_table(self.engine.table, self.src, log_files, 1 << 62)


# ---------------------------------------------------------------- trickle
class Trickle:
    """Open loop: pre-generated segment files are renamed into a watched
    directory on a fixed schedule; ``StreamingCDC`` applies them on a
    processing-time trigger (broadcast-anti merges into a much larger
    table) while one consumer thread keeps a ``MaterializedAggView``
    folded.

    The offered rate is one segment every ``PERIOD`` seconds, a constant
    below the rate the engine sustains (README.md records how it was
    measured), so freshness does not depend on the run length. A run
    whose freshness grows across the schedule is flagged."""

    name = "trickle"
    group_cols = ["repo", "lang"]
    PERIOD = 0.2
    MIN_SEGMENTS = 40  # freshness p75 needs 10 samples beyond it

    def __init__(self, ctx: Ctx):
        self.src = os.path.join(ctx.inputs, "src")
        self.segs = parquet_files(os.path.join(ctx.inputs, "segs"))
        self.offered = self.segs[1:]  # the first segment is applied in the warm-up

    def _view(self, spark, root: str):
        from debezium_incubator_spark.operators.views import MaterializedAggView

        return MaterializedAggView(
            spark, os.path.join(root, "view"), os.path.join(root, "table"),
            group_cols=self.group_cols, measure_cols=[], extreme_cols=["commit"],
        )

    def warm_up(self, ctx: Ctx) -> None:
        """The starting state, warmed: bootstrap the table, build the
        view, start the stream, offer it the first segment and fold that
        into the view. The stream keeps running into ``measure``, whose
        schedule starts at the second segment."""
        from debezium_incubator_spark.sources.changelog import file_footer_offset_max
        from debezium_incubator_spark.streaming.stream import StreamingCDC

        self.root = root = ctx.fresh("trickle")
        self.engine = eng = _engine(ctx.spark, root)
        eng.create_target()
        eng.bootstrap(ctx.spark.read.parquet(self.src))
        self.view = self._view(ctx.spark, root)
        self.view.build()
        self.staging = os.path.join(root, "staging")
        self.watch = os.path.join(root, "watch")
        os.makedirs(self.staging)
        os.makedirs(self.watch)
        for p in self.segs:
            shutil.copy(p, self.staging)
        self.seg_last = [file_footer_offset_max(p) for p in self.offered]

        stream = StreamingCDC(
            eng, self.watch, os.path.join(root, "stream"), max_files_per_trigger=1000
        )
        self.q = q = stream.start(ctx.spark, processing_time=TRIGGER)
        try:
            self._offer(os.path.basename(self.segs[0]))
            first_last = file_footer_offset_max(self.segs[0])
            deadline = time.perf_counter() + 120
            while int(eng.table.summary().get("stream_pos", -1)) < first_last:
                if q.exception() is not None or time.perf_counter() > deadline:
                    raise RuntimeError(f"trickle warm-up: first segment not applied ({q.exception()})")
                time.sleep(0.02)
            self.view.refresh()
        except BaseException:
            q.stop()
            raise

    def _offer(self, name: str) -> None:
        """Move a staged segment into the watched directory, stamped now."""
        src = os.path.join(self.staging, name)
        now_ns = time.time_ns()
        os.utime(src, ns=(now_ns, now_ns))
        os.rename(src, os.path.join(self.watch, name))

    def _stream(self, ctx: Ctx, n: int):
        """Offer the first ``n`` segments on the schedule and time when
        the table and the view cover each; returns (due, sent, done,
        view done, streaming progress of the schedule)."""
        from debezium_incubator_spark.lake.table import LakeTable

        q = self.q
        names = [os.path.basename(p) for p in self.offered]
        table = LakeTable(os.path.join(self.root, "table"))
        view_probe = self._view(ctx.spark, self.root)
        warm_batches = len(q.recentProgress)

        t0 = time.perf_counter() + self.PERIOD
        due = [t0 + i * self.PERIOD for i in range(n)]
        sent: list[float] = [0.0] * n
        done: list[float | None] = [None] * n
        vdone: list[float | None] = [None] * n
        seg_version: list[int | None] = [None] * n
        stop = threading.Event()
        errors: list[BaseException] = []

        def generate():
            for i in range(n):
                delay = due[i] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self._offer(names[i])
                sent[i] = time.perf_counter()

        def poll():
            nxt, vnxt, last_v = 0, 0, -1
            while not stop.is_set() and vnxt < n:
                now = time.perf_counter()
                v = table.version()
                if v != last_v:
                    last_v = v
                    pos = int(table.summary(v).get("stream_pos", -1))
                    while nxt < n and self.seg_last[nxt] <= pos:
                        done[nxt], seg_version[nxt] = now, v
                        nxt += 1
                if vnxt < nxt:
                    folded = view_probe.state.manifest()["folded_through"]
                    while vnxt < nxt and seg_version[vnxt] <= folded:
                        vdone[vnxt] = now
                        vnxt += 1
                time.sleep(0.02)

        def consume():
            ctx.spark.sparkContext.setJobGroup(VIEW_JOB_GROUP, "view consumer")
            while not stop.is_set():
                if self.view.refresh()["folded_versions"] == 0:
                    time.sleep(0.02)

        def guarded(fn):
            def run():
                try:
                    fn()
                except Exception as e:  # noqa: BLE001 — re-raised after the threads stop
                    errors.append(e)
                    stop.set()

            return run

        threads = [
            threading.Thread(target=guarded(f), name=f.__name__) for f in (generate, poll, consume)
        ]
        for t in threads:
            t.start()
        threads[0].join()
        deadline = due[-1] + 60
        while vdone[-1] is None and time.perf_counter() < deadline and not errors:
            if q.exception() is not None:
                break
            time.sleep(0.05)
        stop.set()
        for t in threads[1:]:
            t.join(timeout=120)
        progress = [_progress_dict(p) for p in q.recentProgress[warm_batches:]]
        exc = q.exception()
        q.stop()
        if exc is not None:
            errors.append(exc)
        if errors:
            raise errors[0]
        return due, sent, done, vdone, progress

    def measure(self, ctx: Ctx) -> dict:
        n = max(self.MIN_SEGMENTS, round(ctx.seconds / self.PERIOD))
        self.n = n = min(len(self.offered), n)
        try:
            with ctx.window():
                due, sent, done, vdone, progress = self._stream(ctx, n)
        finally:
            self.q.stop()
        lat = open_loop_latencies(due, done)
        vlat = open_loop_latencies(due, vdone)
        busy = [p for p in progress if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in busy)
        busy_s = sum(p["durationMs"].get("triggerExecution", 0) for p in busy) / 1000.0
        tail = tail_percentile(len(lat))
        growth = backlog_growth(lat)
        if growth > n * self.PERIOD / 4:
            print(
                f"trickle: freshness grew by {growth:.2f} s across the schedule — "
                "the offered rate is above what this machine sustains",
                file=sys.stderr,
            )
        named = {
            "freshness_p50_s": (percentile(lat, 50), "s"),
            "view_freshness_p50_s": (percentile(vlat, 50), "s"),
            "freshness_growth_s": (growth, "s"),
            "segments": (len(lat), "count"),
            "freshness_samples_s": ([round(x, 3) for x in lat], "s"),
            "view_freshness_samples_s": ([round(x, 3) for x in vlat], "s"),
        }
        if tail is not None:
            named[f"freshness_p{tail}_s"] = (percentile(lat, tail), "s")
        layer = {
            "streaming.trigger_s": sum(
                p["durationMs"].get("triggerExecution", 0) for p in progress
            ) / 1000.0,
            "streaming.plan_s": sum(
                p["durationMs"].get(k, 0)
                for p in progress
                for k in ("latestOffset", "getBatch", "queryPlanning")
            ) / 1000.0,
            "streaming.idle_triggers": sum(1 for p in progress if p["numInputRows"] == 0),
            "bench.generator_late_s": generator_lateness(due, sent),
        }
        failed = sum(1 for d in vdone if d is None)
        self.applied_top = self.seg_last[n - 1]
        return _result(
            named, percentile(lat, 50), percentile(vlat, 50),
            rows / busy_s if busy_s else 0.0, n, failed, layer,
        )

    def verify(self, ctx: Ctx) -> list[str]:
        self.view.refresh()
        segs = self.segs[: 1 + self.n]  # the warm-up segment and the n offered
        problems = oracle.check_table(self.engine.table, self.src, segs, self.applied_top)
        rows = self.view.read().select(
            "repo", "lang", "n_rows", "min_commit", "max_commit"
        ).collect()
        return problems + oracle.check_view([tuple(r) for r in rows], self.src, segs, self.applied_top)


def _progress_dict(p) -> dict:
    """StreamingQueryProgress as a plain dict (object or dict API)."""
    if isinstance(p, dict):
        return p
    import json

    return json.loads(p.json)


WORKLOADS = {w.name: w for w in (Catchup, Trickle)}
