"""Run plumbing shared by every workload: the Spark session, resource
sampling, the CPU probe, Spark status-store deltas and the statistics
rules the metrics use.

Everything the benchmark writes lives under ``.perfbench/`` in the
current directory (the checkout root), including Spark's local dir and
the JVM's temp dir.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time

STATE_DIR = ".perfbench"
TAIL_CANDIDATES = (99, 95, 90, 75)


# ---------------------------------------------------------------- statistics
def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` ranked samples lie above the p-th percentile's rank."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, or None when even p75 is not supported."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def open_loop_latencies(due: list[float], done: list[float | None]) -> list[float]:
    """Open-loop latency of each request, timed from when it was DUE,
    not from when the generator got round to sending it — a generator
    stall is charged to the requests it delayed. Undone requests are
    left out (the caller counts them as failed)."""
    return [d1 - d0 for d0, d1 in zip(due, done) if d1 is not None]


def generator_lateness(due: list[float], sent: list[float]) -> float:
    """How late the open-loop generator ran: the worst send delay past due."""
    return max((max(0.0, s - d) for d, s in zip(due, sent)), default=0.0)


def backlog_growth(latencies: list[float]) -> float:
    """How much open-loop latency grew across a schedule: the median of
    the last quarter of the requests minus that of the first quarter.
    Near zero (or below) when the offered rate is sustained; a backlog
    grows it in proportion to the schedule's length."""
    q = len(latencies) // 4
    if q == 0:
        return 0.0
    return statistics.median(latencies[-q:]) - statistics.median(latencies[:q])


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- resources
def cpu_probe(n: int = 1_500_000) -> float:
    """Seconds for a fixed pure-Python loop: a throttled or contended
    window shows up here instead of being silently absorbed."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional resident memory of a process and all its descendants
    (driver + JVM + Python workers), from /proc. PSS splits pages the
    forked Python workers share, so they are counted once."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PssSampler:
    """Background sampler of the process tree's proportional resident memory."""

    def __init__(self, interval_s: float = 1.0):
        # one sample of the ~3 GB tree costs ~50 ms of a core: at 1 s it
        # takes ~5 % of one of the cores the workload runs on
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes())


# ---------------------------------------------------------------- session
# Class-data sharing: the first run of a checkout archives the classes
# its JVM loaded, and every later JVM maps the archive instead of
# loading and verifying those classes again. It shortens the
# cold start of each run and leaves what the engine executes unchanged.
CLASS_ARCHIVE = os.path.join(STATE_DIR, "jvm", "spark.jsa")


def class_archive_opts() -> str:
    path = os.path.abspath(CLASS_ARCHIVE)
    if os.path.exists(path):
        return f"-XX:SharedArchiveFile={path} -Xlog:cds=off"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return f"-XX:ArchiveClassesAtExit={path}.tmp -Xlog:cds=off"


def publish_class_archive() -> None:
    """Make an archive written at JVM exit visible to later runs."""
    tmp = os.path.abspath(CLASS_ARCHIVE) + ".tmp"
    if os.path.exists(tmp):
        os.replace(tmp, os.path.abspath(CLASS_ARCHIVE))


def session_conf(work_dir: str, jvm_opts: str) -> dict[str, str]:
    local = os.path.abspath(os.path.join(work_dir, "spark-local"))
    tmp = os.path.abspath(os.path.join(work_dir, "tmp"))
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"{jvm_opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.abspath(os.path.join(work_dir, "warehouse")),
        "spark.ui.showConsoleProgress": "false",
        # the per-layer run reads stage metrics for whole phases
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def start_session(ncpu: int, work_dir: str):
    """A session on local[ncpu] whose scratch space is under ``work_dir``;
    the heap starts at its maximum so resident memory does not depend on
    when the collector chose to grow it. With no class archive yet, the
    JVM writes one when it exits (``stop_session`` publishes it)."""
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.abspath(os.path.join(work_dir, "tmp"))
    # an empty conf dir: every setting comes from get_spark and
    # session_conf, and class-data sharing refuses a class path that
    # holds a non-empty directory
    conf_dir = os.path.abspath(os.path.join(STATE_DIR, "spark-conf"))
    os.makedirs(conf_dir, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    jvm_opts = f"-Xms2g {class_archive_opts()}"
    from debezium_incubator_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        extra_conf=session_conf(work_dir, jvm_opts),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM (and the
    Python workers it forked) to exit; publish the class archive it
    wrote, if it exited by itself."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return
    publish_class_archive()


# ---------------------------------------------------------------- status store
# job group of the trickle view consumer's thread: its refresh jobs run
# beside the merge path and are left out of the status-store figures
VIEW_JOB_GROUP = "perfbench-view"

SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.shuffle_write_bytes", "spark.input_bytes",
)


class StageCounter:
    """Spark's own status store, summed over the windows a workload marks
    with ``window()``: jobs, stages, tasks, executor run time and bytes
    moved. Jobs of ``exclude_group`` and their stages are left out."""

    def __init__(self, spark, exclude_group: str = VIEW_JOB_GROUP):
        self.spark = spark
        self.exclude_group = exclude_group
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._gateway.new_array(self._jvm.double, 0)
        self.totals = dict.fromkeys(SPARK_KEYS, 0)

    @contextlib.contextmanager
    def window(self):
        start = self._ids()
        try:
            yield
        finally:
            self._add(*start)

    def _flush(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — best effort: older buses lack it
            time.sleep(0.5)

    def _as_list(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _stages(self):
        return self._as_list(self._store.stageList(None, False, False, self._empty, None))

    def _jobs(self):
        return self._as_list(self._store.jobsList(None))

    def _ids(self) -> tuple[int, int]:
        self._flush()
        jobs = self._jobs()
        stages = self._stages()
        j = max((jobs.get(i).jobId() for i in range(jobs.size())), default=-1)
        s = max((stages.get(i).stageId() for i in range(stages.size())), default=-1)
        return j, s

    def _add(self, start_job: int, start_stage: int) -> None:
        self._flush()
        out = self.totals
        skip: set[int] = set()
        jobs = self._jobs()
        for i in range(jobs.size()):
            job = jobs.get(i)
            if job.jobId() <= start_job:
                continue
            group = job.jobGroup()
            if group.isDefined() and group.get() == self.exclude_group:
                ids = self._as_list(job.stageIds())
                skip.update(int(ids.get(k)) for k in range(ids.size()))
                continue
            out["spark.jobs"] += 1
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.get(i)
            sid = st.stageId()
            if sid <= start_stage or sid in skip or st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.input_bytes"] += st.inputBytes()
