"""Tests for the benchmark's own logic (not the engine's).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import harness  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402


# ---------------------------------------------------------------- percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.samples_beyond(40, 75) == 10
    assert harness.tail_percentile(40) == 75
    assert harness.tail_percentile(39) is None  # p75 would have only 9 beyond
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(199) == 90
    assert harness.tail_percentile(200) == 95
    assert harness.tail_percentile(1000) == 99


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert harness.percentile(xs, 50) == 2.5
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 4.0
    with pytest.raises(ValueError):
        harness.percentile([], 50)


# ---------------------------------------------------------------- open loop
def test_open_loop_latency_counts_from_due_time():
    due = [0.0, 1.0, 2.0, 3.0]
    sent = [0.0, 1.5, 2.1, 3.0]  # the generator stalled on request 1
    done = [0.5, 2.0, 2.6, None]  # request 3 never completed
    # timed from DUE: the stall is charged to the request it delayed
    assert harness.open_loop_latencies(due, done) == pytest.approx([0.5, 1.0, 0.6])
    assert harness.generator_lateness(due, sent) == pytest.approx(0.5)
    # sending early is not negative lateness
    assert harness.generator_lateness([1.0], [0.9]) == 0.0


def test_backlog_growth_separates_a_sustained_rate_from_a_backlog():
    steady = [1.0, 1.2, 0.9, 1.1] * 10  # batching: latency varies, does not grow
    assert harness.backlog_growth(steady) == pytest.approx(0.0)
    growing = [0.1 * i for i in range(40)]  # each request waits 0.1 s longer
    assert harness.backlog_growth(growing) == pytest.approx(3.0)
    assert harness.backlog_growth([5.0, 1.0]) == 0.0  # too few to tell


# ---------------------------------------------------------------- self time
def _span(id_, start, end, parent=None):
    s = spans.Span(id_, f"s{id_}", start, parent, "t", None)
    s.end = end
    return s


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 4.0, 1),
        _span(3, 2.0, 6.0, 1),  # overlaps span 2 (another pool thread)
        _span(4, 8.0, 9.0, 1),
        _span(5, 9.5, 12.0, 1),  # outlives the parent: clipped
    ]
    grandchild = _span(6, 2.0, 3.0, 3)
    st = spans.self_times([parent, *kids, grandchild])
    assert st[1] == pytest.approx(10.0 - (5.0 + 1.0 + 0.5))
    assert st[3] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0)


def test_union_length():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


# ---------------------------------------------------------------- tracer threads
class _Target:
    def outer(self, pool):
        futs = [pool.submit(self.inner) for _ in range(3)]
        return [f.result() for f in futs]

    def inner(self):
        return threading.current_thread().name


def test_pool_tasks_inherit_the_submitting_span():
    tracer = spans.Tracer()
    tracer._patch_pool()
    tracer._patch(_Target, "outer", "outer")
    tracer._patch(_Target, "inner", "inner")
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            _Target().outer(pool)
            _Target().inner()  # a root span on the main thread
    finally:
        tracer.uninstall()
    assert _Target.outer.__name__ == "outer" and not hasattr(_Target.outer, "__wrapped__")
    outer = [s for s in tracer.spans if s.name == "outer"]
    inner = [s for s in tracer.spans if s.name == "inner"]
    assert len(outer) == 1 and len(inner) == 4
    pooled = [s for s in inner if s.thread != threading.current_thread().name]
    assert len(pooled) == 3
    assert all(s.parent == outer[0].id for s in pooled)
    assert [s.parent for s in inner if s not in pooled] == [None]
    # the pool thread's stack was restored: nothing leaks into later tasks
    with ThreadPoolExecutor(max_workers=1) as pool:
        assert pool.submit(tracer.current).result() is None


class _Engine:
    def bootstrap(self):
        return self.apply_epoch(events=5)

    def apply_epoch(self, events):
        return events


def test_bootstrap_scope_keeps_snapshot_counts_off_the_merge_path():
    tracer = spans.Tracer()

    def on_epoch(span, args, result):
        tracer.add("operators.events_in", result, span)

    tracer._patch(_Engine, "bootstrap", "plans.bootstrap")
    tracer._patch(_Engine, "apply_epoch", "plans.epoch", after=on_epoch)
    try:
        _Engine().bootstrap()
        _Engine().apply_epoch(events=7)
    finally:
        tracer.uninstall()
    assert dict(tracer.counts) == {
        "bootstrap:operators.events_in": 5,
        "operators.events_in": 7,
    }
    epochs = [s for s in tracer.spans if s.name == "plans.epoch"]
    assert [s.scope for s in epochs] == ["bootstrap", None]
    m = tracer.layer_metrics()
    assert m["operators.events_in"] == 7
    assert m["plans.bootstrap_s"] > 0
    assert m["plans.epoch_self_s"] == pytest.approx(epochs[1].end - epochs[1].start)


# ---------------------------------------------------------------- status store
@pytest.fixture(scope="module")
def spark():
    from debezium_incubator_spark import get_spark

    session = get_spark(master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()


def test_stage_counter_counts_only_windows_and_leaves_out_the_view_group(spark):
    sc = spark.sparkContext
    counter = harness.StageCounter(spark)

    def view_job():
        sc.setJobGroup(harness.VIEW_JOB_GROUP, "view consumer")
        sc.parallelize(range(10), 3).count()

    sc.parallelize(range(10), 2).count()  # outside any window
    with counter.window():
        t = threading.Thread(target=view_job)
        t.start()
        t.join()
        sc.parallelize(range(10), 2).collect()
    sc.parallelize(range(10), 2).count()  # outside again
    assert counter.totals["spark.jobs"] == 1
    assert counter.totals["spark.stages"] == 1
    assert counter.totals["spark.tasks"] == 2


# ---------------------------------------------------------------- digests
def _write_rows(tmp_path, name, rows, files=1):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    for k in range(files):
        part = rows[k::files]
        pq.write_table(
            pa.table({"id": [r[0] for r in part], "v": [r[1] for r in part]}),
            str(d / f"part-{k}.parquet"),
        )
    return str(d)


def test_digest_ignores_row_order_and_file_split(tmp_path):
    rows = [(i, f"v{i % 7}") for i in range(50)]
    a = inputs.digest_dir(_write_rows(tmp_path, "a", rows))
    b = inputs.digest_dir(_write_rows(tmp_path, "b", rows[::-1], files=3))
    c = inputs.digest_dir(_write_rows(tmp_path, "c", rows[:-1] + [(49, "changed")]))
    assert a == b
    assert a != c
    assert a.startswith("50:")


def test_changelog_digest_is_stable_per_seed_and_changes_with_the_seed(tmp_path, spark):
    from debezium_incubator_spark.sources.generator import gen_changelog

    digests = []
    for i, seed in enumerate((5, 5, 6)):
        out = str(tmp_path / f"log{i}")
        # a different partitioning each time: the digest ignores row order
        gen_changelog(spark, n_keys=200, n_slots=600, seed=seed, partitions=i + 1).write.parquet(out)
        digests.append(inputs.digest_dir(out))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_pin_mismatch_is_refused(tmp_path, monkeypatch):
    pins = tmp_path / "pins.json"
    pins.write_text('{"catchup": {"7": {"log": "1:00"}}}')
    monkeypatch.setattr(inputs, "PINS", str(pins))
    inputs.check_pin("catchup", 8, {"log": "2:00"})  # unpinned seed: allowed
    inputs.check_pin("catchup", 7, {"log": "1:00"})
    with pytest.raises(inputs.InputMismatch):
        inputs.check_pin("catchup", 7, {"log": "2:00"})
