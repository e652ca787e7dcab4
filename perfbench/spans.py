"""Spans around the engine's public entry points, for the traced run.

Wrappers are installed on the names the engine looks up at call time
(``plans.pipeline.merge_upsert``, ``operators.views.table_changes``,
class methods on their classes) and removed when the run ends. Each span records name, start,
end, parent, thread, epoch id and scope; spans stay in memory until
``write()``.

Each thread keeps its own span stack. Work handed to a
``ThreadPoolExecutor`` (the stats prefetch, the commit's file pool)
inherits the submitting thread's open span as its parent, so a
pool task is a child of the span that submitted it even though it runs
elsewhere and overlaps it.

Spark is lazy: an epoch's unwrap + LWW + shuffle executes inside the
write job of ``LakeTable.commit`` and is attributed to ``lake.commit``.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor


# Spans that open a scope other than the merge path: counts recorded
# inside them (the snapshot epoch of a bootstrap, the view consumer's
# reads) are kept apart from the per-event merge-path figures.
SCOPES = {"plans.bootstrap": "bootstrap", "views.refresh": "view"}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "thread", "epoch", "scope")

    def __init__(self, id_, name, start, parent, thread, epoch, scope=None):
        self.id = id_
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.thread = thread
        self.epoch = epoch
        self.scope = scope

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals,
    clipped to the span (children on pool threads may overlap each
    other and outlive nothing, but clip anyway)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in kids.get(s.id, [])
            if min(hi, s.end) > max(lo, s.start)
        ]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _open(self, name: str, epoch=None) -> Span:
        parent = self.current()
        if epoch is None and parent is not None:
            epoch = parent.epoch
        scope = SCOPES.get(name, parent.scope if parent is not None else None)
        s = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            parent.id if parent is not None else None,
            threading.current_thread().name,
            epoch,
            scope,
        )
        self._stack().append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()
        with self._lock:
            self.spans.append(s)

    def add(self, key: str, value: float, span: Span | None = None) -> None:
        """Count ``value`` under ``key``; inside a non-merge scope the key
        is prefixed with the scope (``bootstrap:operators.events_in``)."""
        if span is not None and span.scope is not None:
            key = f"{span.scope}:{key}"
        with self._lock:
            self.counts[key] += value

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    # ------------------------------------------------------------ wrapping
    def _patch(self, owner, attr: str, name: str, epoch_of=None, after=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            span = tracer._open(name, epoch_of(args, kwargs) if epoch_of else None)
            t1 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                tracer._close(span)
            if after is not None:
                after(span, args, result)
            tracer._charge((t1 - t0) + (time.perf_counter() - t2))
            return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def _patch_pool(self) -> None:
        """Pool tasks inherit the submitter's open span as parent."""
        original = ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run(*a, **k):
                saved = getattr(tracer._local, "stack", None)
                tracer._local.stack = [parent] if parent is not None else []
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.stack = saved

            return original(pool, run, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._patches.append((ThreadPoolExecutor, "submit", original))

    def install(self) -> None:
        from debezium_incubator_spark.lake import checkpoint
        from debezium_incubator_spark.lake import table as lake_table
        from debezium_incubator_spark.operators import merge, views
        from debezium_incubator_spark.plans import pipeline
        from debezium_incubator_spark.sources import changelog
        from debezium_incubator_spark.streaming import stream

        def epoch_of(args, kwargs):
            ck = kwargs.get("ckpt")
            return ck["epoch"] + 1 if ck else None

        def on_merge(span, args, result):
            events = result[1]["counters"].get("events_in", 0)
            self.add("operators.events_in", events, span)
            # an empty batch is a heartbeat epoch: no merge work
            self.add("plans.epochs" if events else "plans.idle_epochs", 1, span)

        def on_commit(span, args, result):
            rows, nbytes, files = written_by(args[0], result)
            self.add("lake.rows_written", rows, span)
            self.add("lake.bytes_written", nbytes, span)
            self.add("lake.files_written", files, span)

        def on_refresh(span, args, result):
            self.add("views.folded_versions", result["folded_versions"])

        self._patch_pool()
        self._patch(changelog.ParquetChangelog, "range", "sources.range")
        self._patch(changelog.ParquetChangelog, "max_offset", "sources.range")
        self._patch(pipeline.CDCEngine, "run", "plans.run")
        self._patch(pipeline.CDCEngine, "bootstrap", "plans.bootstrap")
        self._patch(pipeline.CDCEngine, "apply_epoch", "plans.epoch", epoch_of)
        self._patch(stream.StreamingCDC, "_apply_batch", "streaming.batch")
        self._patch(merge, "batch_stats_rows", "operators.stats")
        self._patch(pipeline, "merge_upsert", "operators.merge", after=on_merge)
        self._patch(lake_table.LakeTable, "commit", "lake.commit", after=on_commit)
        self._patch(lake_table.LakeTable, "read", "lake.read")
        self._patch(checkpoint.CheckpointStore, "save", "lake.ckpt_save")
        self._patch(views, "table_changes", "lake.cdf")
        self._patch(views.MaterializedAggView, "refresh", "views.refresh", after=on_refresh)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ output
    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict()) + "\n")

    def layer_metrics(self) -> dict[str, float]:
        """Busy and self times per span name, and the merge-path counts.
        Everything but ``plans.bootstrap_s`` leaves out the bootstrap
        scope: its snapshot epoch is timed as a whole there."""
        busy: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        st = self_times(self.spans)
        for s in self.spans:
            if s.scope == "bootstrap" and s.name != "plans.bootstrap":
                continue
            busy[s.name] += s.end - s.start
            own[s.name] += st[s.id]
        c = self.counts
        return {
            "sources.range_s": busy["sources.range"],
            "plans.bootstrap_s": busy["plans.bootstrap"],
            "plans.epoch_self_s": own["plans.epoch"],
            "plans.epochs": c["plans.epochs"],
            "operators.stats_s": busy["operators.stats"],
            "operators.merge_self_s": own["operators.merge"],
            "operators.events_in": c["operators.events_in"],
            "lake.commit_s": busy["lake.commit"],
            "lake.rows_written": c["lake.rows_written"],
            "lake.bytes_written": c["lake.bytes_written"],
            "lake.files_written": c["lake.files_written"],
            "lake.write_amp": (
                c["lake.rows_written"] / c["operators.events_in"]
                if c["operators.events_in"]
                else 0.0
            ),
            "lake.ckpt_save_s": busy["lake.ckpt_save"],
            "lake.read_s": busy["lake.read"],
            "lake.cdf_s": busy["lake.cdf"],
            "views.refresh_s": busy["views.refresh"],
            "views.folded_versions": c["views.folded_versions"],
        }


def written_by(table, version: int) -> tuple[int, int, int]:
    """(rows, bytes, files) a commit added: the manifest diff of
    ``version`` against its parent."""
    m1 = table.manifest(version)
    parent = m1.get("parent")
    before = set()
    if parent is not None:
        before = {fi["path"] for fs in table.manifest(parent)["buckets"].values() for fi in fs}
    rows = nbytes = files = 0
    for fs in m1["buckets"].values():
        for fi in fs:
            if fi["path"] in before:
                continue
            rows += fi.get("rows", 0)
            nbytes += os.path.getsize(os.path.join(table.path, fi["path"]))
            files += 1
    return rows, nbytes, files
