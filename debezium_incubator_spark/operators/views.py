"""Durable materialized aggregate views over the lake table, kept as
per-bucket partial aggregates.

Closes the loop the reference leaves to its consumers: the CDC engine
lands row-level state in the LakeTable's hash buckets; this module keeps
a DURABLE per-group aggregate of that state (count, exact long sums,
min/max — ``agg_view``) with its own commit-then-pointer manifest, so a
dashboard-style consumer reads an always-fresh aggregate without
rescanning the table. This is the one incremental-aggregate path.

Accumulators are EXACT (longs): floating-point sums drift with the order
rows are added in, so money-like doubles should be scaled to integral
units by the caller (the contract oracle uses cents).

State: one row per ``(source _bucket, group)`` holding the partial
aggregates of that bucket's rows at ``folded_through``. The manifest
records, next to ``folded_through``, a hash of each bucket's file list
at that version and the field id and type of every folded column.
``read()`` re-aggregates the partials by group. The state holds at most
min(groups × buckets, table rows) rows.

Refresh pins the target version ONCE (a concurrent engine commit
mid-refresh lands in the next refresh) and compares its manifest with
the recorded one. The table is copy-on-write per bucket, so a bucket
whose file list is unchanged holds exactly the rows it held; only the
CHANGED buckets are read, once, at the pinned version, and
re-aggregated. The new state is the unchanged buckets' partials unioned
with that aggregate: count, sum, min and max stay exact with no
retraction algebra, so there is no change-feed diff, no fold and no
min/max dethrone rescan (MIN/MAX are not self-maintainable under
deletions; recomputing a whole bucket sidesteps that). A refresh that
finds no changed bucket runs no Spark job.

The view never reads table history, only the version it pins: a
rewound, recreated or expired table shows up as changed file lists and
gets the correct recompute. A folded column whose field id or type
changed (drop + re-add, type widening) marks every bucket changed; a
folded name missing at the pinned version (rename/drop) fails loudly —
``build()`` a view under the current names instead.

Exactly-once: ``folded_through`` and the bucket record ride the SAME
manifest commit as the new state (commit-THEN-pointer). A crash
mid-refresh leaves the previous manifest current, and the retry
recomputes from the immutable table version. Parameters (group/measure/
extreme columns) are stamped in the manifest and validated on resume:
a maintainer restarted with different columns fails loudly instead of
silently corrupting the view (functions/_state.py params check). A
state written without the bucket record (an older layout) is rebuilt
by its first refresh.

≙ the downstream the reference's consumers build on ChangeRecords
(Record.java operation kinds); here it is derived from the committed
table state instead of captured in flight.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from debezium_incubator_spark.functions._state import VersionedState

# not called here: perfbench/spans.py wraps ``views.table_changes`` by
# this name, so it stays importable from this module
from debezium_incubator_spark.lake.cdf import table_changes  # noqa: F401
from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable

COUNT_COL = "n_rows"


def _aggs(count, measure_cols: list[str], extreme_cols: list[str], src) -> list:
    """The view's aggregate list: ``count`` as COUNT_COL, then
    ``sum_*`` per measure and ``min_*``/``max_*`` per extreme column over
    the columns ``src(kind, c)`` names."""
    return [
        count.cast("long").alias(COUNT_COL),
        *[F.sum(src("sum", c)).cast("long").alias(f"sum_{c}") for c in measure_cols],
        *[
            a
            for c in extreme_cols
            for a in (F.min(src("min", c)).alias(f"min_{c}"), F.max(src("max", c)).alias(f"max_{c}"))
        ],
    ]


def agg_view(
    state: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    extreme_cols: list[str] | None = None,
) -> DataFrame:
    """Full aggregate: one partial-aggregated groupBy over ``state``."""
    return state.groupBy(*group_cols).agg(
        *_aggs(F.count(F.lit(1)), measure_cols, extreme_cols or [], lambda kind, c: c)
    )


def _files_hash(files: list[dict]) -> str:
    return hashlib.sha1("\n".join(sorted(f["path"] for f in files)).encode()).hexdigest()


class MaterializedAggView:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table_path: str,
        group_cols: list[str],
        measure_cols: list[str],
        extreme_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.table = LakeTable(table_path)
        self.group_cols = list(group_cols)
        self.measure_cols = list(measure_cols)
        self.extreme_cols = list(extreme_cols or [])
        self.state = VersionedState(
            spark,
            path,
            params={
                "kind": "agg_view",
                "group_cols": self.group_cols,
                "measure_cols": self.measure_cols,
                "extreme_cols": self.extreme_cols,
            },
        )

    # ------------------------------------------------------------- lifecycle
    def version(self) -> int:
        return self.state.version()

    def meta(self) -> dict:
        return self.state.manifest()

    def build(self) -> int:
        """Full rebuild at the table's current version. Validates the
        stamped parameters first when a view already exists — a rebuild
        with drifted columns must fail loudly, not silently redefine
        the view under every other maintainer/reader."""
        with self.state.mutate():
            if self.state.version() > 0:
                self.state.manifest()  # params check lives in the read
            state, record = self._next_state(None, self.table.manifest())
            return self._commit(state, record)

    def refresh(self) -> dict:
        """Bring the view to the table's current version, re-aggregating
        only the buckets whose files changed since ``folded_through``.
        Commits nothing when the view is current. Returns
        {"folded_versions": n, "folded_through": v}."""
        with self.state.mutate():
            m = self.state.manifest()
            from_v = m["folded_through"]
            tm = self.table.manifest()  # pinned once
            state, record = self._next_state(m, tm)
            if state is not None:
                self._commit(state, record)
            elif tm["version"] != from_v:
                # e.g. an add_column commit: no bucket to recompute
                self.state.commit({"view": m["view"], **record})
            return {
                "folded_versions": max(tm["version"] - from_v, 0),
                "folded_through": tm["version"],
            }

    def follow(
        self,
        poll_interval_s: float = 5.0,
        run_until=None,
    ) -> dict:
        """Tail the table: refresh as new versions commit — the
        continuous form of ``refresh()`` (Delta readChangeFeed-style
        tailing without a streaming source; the engine's
        ``run_until`` idiom). With no ``run_until`` this is an
        availableNow DRAIN — and since ``refresh()`` always folds
        through the table version it observes at entry, one refresh IS
        the drain; a table under continuous commits cannot keep it
        alive. ``run_until(stats)`` → True stops the loop; stats
        accumulates {"refreshes", "folded_versions",
        "folded_through"}."""
        import time

        stats = {"refreshes": 0, "folded_versions": 0}
        while True:
            out = self.refresh()
            stats["refreshes"] += 1
            stats["folded_versions"] += out["folded_versions"]
            stats["folded_through"] = out["folded_through"]
            if run_until is None:
                return stats  # drained: refresh folded through "now"
            if run_until(stats):
                return stats
            if out["folded_versions"] == 0:
                time.sleep(poll_interval_s)

    def _next_state(self, m: dict | None, tm: dict) -> tuple[DataFrame | None, dict]:
        """The lazy state frame at table manifest ``tm`` and the manifest
        record it folds. The frame is None when no bucket changed since
        the view manifest ``m`` (None: rebuild every bucket)."""
        # the bucket columns are read too: with_bucket hashes them
        cols = list(dict.fromkeys(
            self.group_cols + self.measure_cols + self.extreme_cols + tm["bucket_cols"]
        ))
        current = {f["name"]: f for f in self.table.current_fields(tm)}
        gone = [c for c in cols if c not in current]
        if gone:
            raise RuntimeError(
                f"column(s) {gone} folded by this view were renamed/dropped "
                f"by table version {tm['version']}; build() a view under the "
                "current schema to re-derive"
            )
        record = {
            "folded_through": tm["version"],
            "bucket_files": {b: _files_hash(fs) for b, fs in tm["buckets"].items() if fs},
            "fields": {c: {"id": current[c]["id"], "type": current[c]["type"]} for c in cols},
        }
        # an older layout has no record: nothing is reused
        reuse = m is not None and m.get("fields") == record["fields"]
        old = m["bucket_files"] if reuse else {}
        files = record["bucket_files"]
        changed = sorted(int(b) for b in old.keys() | files.keys() if old.get(b) != files.get(b))
        if reuse and not changed:
            return None, record
        rows = self.table.read(self.spark, version=tm["version"], buckets=changed)
        state = agg_view(
            self.table.with_bucket(rows, tm),
            [BUCKET_COL, *self.group_cols],
            self.measure_cols,
            self.extreme_cols,
        )
        if reuse:
            kept = self.state.read([m["view"]]).filter(~F.col(BUCKET_COL).isin(changed))
            state = kept.unionByName(state)
        return state, record

    def _commit(self, state: DataFrame, record: dict) -> int:
        rel = f"view_v{self.state.version() + 1:05d}"
        self.state.write(state, rel)
        return self.state.commit({"view": rel, **record})

    # ------------------------------------------------------------- reads
    def read(self, as_of: int | None = None) -> DataFrame:
        """The view: the partials re-aggregated by group."""
        parts = self.state.read([self.state.manifest(as_of)["view"]])
        return parts.groupBy(*self.group_cols).agg(
            *_aggs(
                F.sum(COUNT_COL),
                self.measure_cols,
                self.extreme_cols,
                lambda kind, c: f"{kind}_{c}",
            )
        )

    def expire(self, keep_last: int = 2) -> list[str]:
        return self.state.expire(keep_last=keep_last)

    def metrics(self) -> dict:
        """Manifest-derived, no Spark job: ``versions_behind`` is the
        view's lag in table versions."""
        out = self.state.metrics_base()
        if out["version"]:
            out["folded_through"] = self.state.manifest()["folded_through"]
            out["versions_behind"] = self.table.version() - out["folded_through"]
        return out
