"""Durable materialized aggregate views maintained from the lake's
change feed.

Closes the loop the reference leaves to its consumers: the CDC engine
lands row-level state in the LakeTable; `lake/cdf.py` reconstructs the
row-level change feed of any committed version range; this module folds
that feed into a DURABLE per-group aggregate view (operators/
aggregates.py algebra) with its own commit-then-pointer manifest — so a
dashboard-style consumer reads an always-fresh aggregate without ever
rescanning the table.

Incremental refresh folds the pending version range in CHUNKS of at
most ``MAX_VERSIONS_PER_APPLY`` (update pre/post pairs telescope across
versions — −a+b then −b+c sums to −a+c — so count/sum deltas are exact
for any chunk size; the chunking only bounds the Spark plan, which
grows by two scans + one join per folded version). The refresh pins
the target version ONCE up front — a concurrent engine commit
mid-refresh lands in the next refresh, never half in this one.

Exactly-once: the folded-through table version rides the SAME manifest
commit as the new view state (commit-THEN-checkpoint, the engine's own
invariant). A crash mid-refresh leaves the previous manifest current —
the retry re-derives the identical feed from the immutable table
versions. Parameters (group/measure/extreme columns) are stamped in the
manifest and validated on resume: a maintainer restarted with different
columns fails loudly instead of silently corrupting the view
(functions/_state.py params check).

Scale shape per chunk: |changed buckets of the range| reads, folded
into the view by one union-reaggregate. The chunk's change feed stays
lazy; ``agg_view_apply`` materializes the fold once, so the feed is
read once, and the refresh itself runs no other action. With
``extreme_cols`` the chunk-end table state is passed along, but only
the fold's dethrone probe decides whether it is scanned: a chunk that
dethrones no min/max never reads it (the recompute's aggregation is
bounded to DETHRONED groups, the scan is O(table) — group columns
don't prune buckets). The table's `expire_versions`
must retain versions back to the view's `folded_through` (keep_last >
refresh lag) or refresh fails loudly and `build()` is the recovery. A
DROP+CREATE of the table under an existing view is caught by a
manifest fingerprint stamped at every commit — the recreated chain's
versions never hash like the folded one's.

≙ the downstream the reference's consumers build on ChangeRecords
(Record.java operation kinds); here the feed is derived from the
committed version chain instead of captured in flight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from debezium_incubator_spark.functions._state import VersionedState
from debezium_incubator_spark.lake.cdf import CHANGE_TYPE_COL, table_changes
from debezium_incubator_spark.lake.table import LakeTable
from debezium_incubator_spark.operators.aggregates import agg_view, agg_view_apply

# versions folded per Spark plan (see refresh)
MAX_VERSIONS_PER_APPLY = 64

_INSERTING = ("insert", "update_postimage")
_RETRACTING = ("delete", "update_preimage")


class MaterializedAggView:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table_path: str,
        group_cols: list[str],
        measure_cols: list[str],
        extreme_cols: list[str] | None = None,
        key_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.table = LakeTable(table_path)
        self.group_cols = list(group_cols)
        self.measure_cols = list(measure_cols)
        self.extreme_cols = list(extreme_cols or [])
        # ADVICE r5: stamp the RESOLVED key columns (incl. the
        # bucket_cols default) — a maintainer resumed with different
        # key_cols would otherwise pass the params check while the CDF
        # full-outer-join grain (hence the reconstructed feed) silently
        # changed under non-row-unique keys
        bucket_cols = list(self.table.manifest()["bucket_cols"])
        self.key_cols = list(key_cols) if key_cols else bucket_cols
        self.state = VersionedState(
            spark,
            path,
            params={
                "kind": "agg_view",
                "group_cols": self.group_cols,
                "measure_cols": self.measure_cols,
                "extreme_cols": self.extreme_cols,
                "key_cols": self.key_cols,
            },
            # state written before key_cols was stamped used the default
            legacy_params={"key_cols": bucket_cols},
        )

    # ------------------------------------------------------------- lifecycle
    def version(self) -> int:
        return self.state.version()

    def meta(self) -> dict:
        return self.state.manifest()

    def build(self) -> int:
        """Full rebuild from the table's current version (also the
        recovery path when the table expired versions past
        ``folded_through`` or was dropped and recreated). Validates the
        stamped parameters first when a view already exists — a rebuild
        with drifted columns must fail loudly, not silently redefine
        the view under every other maintainer/reader."""
        with self.state.mutate():
            if self.state.version() > 0:
                self.state.manifest()  # params check lives in the read
            thru = self.table.version()
            view = agg_view(
                self.table.read(self.spark, version=thru),
                self.group_cols,
                self.measure_cols,
                self.extreme_cols,
            )
            return self._commit(view, thru)

    def refresh(self) -> dict:
        """Fold every table version committed since ``folded_through``
        into the view, at most ``MAX_VERSIONS_PER_APPLY`` versions per
        Spark plan (each folded version adds two scans + a join to the
        plan; an unmaintained view lagging thousands of engine epochs
        must not build one giant plan). Returns {"folded_versions": n,
        "folded_through": v}."""
        with self.state.mutate():
            m = self.state.manifest()
            from_v = m["folded_through"]
            thru = self.table.version()
            if thru < from_v:
                raise RuntimeError(
                    f"table at version {thru} is BEHIND the view's "
                    f"folded_through {from_v} — the table was rewound or "
                    "recreated; build() to re-derive"
                )
            # anchor BEFORE the caught-up return: a recreated chain that
            # happens to sit at exactly folded_through versions must
            # raise, not report "caught up" over a different table
            self._guard_anchor(m)
            if thru == from_v:
                return {"folded_versions": 0, "folded_through": from_v}
            try:
                self._guard_schema_stable(from_v, thru)
            except FileNotFoundError as e:
                raise RuntimeError(self._expired_msg(from_v, thru, e)) from e

            cur = self.state.read([m["view"]])
            lo = from_v
            while lo < thru:
                hi = min(lo + MAX_VERSIONS_PER_APPLY, thru)
                try:
                    feed = table_changes(
                        self.table, self.spark, lo, hi, self.key_cols
                    )
                except FileNotFoundError as e:
                    raise RuntimeError(self._expired_msg(lo, hi, e)) from e
                cur = agg_view_apply(
                    cur,
                    feed.filter(F.col(CHANGE_TYPE_COL).isin(*_INSERTING)),
                    feed.filter(F.col(CHANGE_TYPE_COL).isin(*_RETRACTING)),
                    self.group_cols,
                    self.measure_cols,
                    self.extreme_cols,
                    # scanned only if the chunk dethroned an extreme
                    state=(
                        self.table.read(self.spark, version=hi)
                        if self.extreme_cols
                        else None
                    ),
                )
                lo = hi
            self._commit(cur, thru)
            return {"folded_versions": thru - from_v, "folded_through": thru}

    def follow(
        self,
        poll_interval_s: float = 5.0,
        run_until=None,
    ) -> dict:
        """Tail the table: fold new versions as they commit — the
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

    @staticmethod
    def _expired_msg(lo: int, hi: int, e: Exception) -> str:
        return (
            f"table versions ({lo}, {hi}] are not all readable ({e}) — "
            "expire_versions reclaimed owed history, or the table was "
            "recreated; build() to re-derive (keep the table's keep_last "
            "above the refresh lag)"
        )

    def _manifest_sha(self, version: int) -> str:
        import hashlib
        import os

        with open(
            os.path.join(self.table.meta_dir, f"v{version:05d}.json"), "rb"
        ) as f:
            return hashlib.sha256(f.read()).hexdigest()

    def _guard_anchor(self, m: dict) -> None:
        """A DROP+CREATE whose new chain already advanced past
        ``folded_through`` passes the BEHIND check — but its manifests
        are not the folded chain's (data dirs carry fresh uuids), so the
        fingerprint stamped at commit time catches it. (A v0 anchor is
        content-identical across recreations, and that case is benign:
        the folded base was the empty view, so folding the new chain's
        full history from v0 is exactly a correct derivation.)"""
        want = m.get("anchor_sha")
        if want is None:
            return
        v = m["folded_through"]
        try:
            got = self._manifest_sha(v)
        except FileNotFoundError as e:
            raise RuntimeError(self._expired_msg(v, v, e)) from e
        if got != want:
            raise RuntimeError(
                f"table manifest v{v} no longer matches the fingerprint "
                "this view folded (table dropped and recreated?) — "
                "build() to re-derive"
            )

    def _guard_schema_stable(self, from_v: int, thru: int) -> None:
        """A rename/drop of a folded column inside the pending range
        would surface in the feed as old-name deletes + new-name adds —
        the retractions would fold under NULL group/measure values and
        silently corrupt the view. Fail loudly instead; build() under
        the new names is the correct posture (Delta refuses CDF across
        non-additive schema changes for the same reason). Manifest-only
        check, no scan. Purely ADDITIVE steps pass — a new column is
        not in this view's stamped params."""
        folded = set(
            self.group_cols + self.measure_cols + self.extreme_cols
        ) | set(self.key_cols or self.table.manifest(thru)["bucket_cols"])
        for v in range(from_v + 1, thru + 1):
            m0, m1 = self.table.manifest(v - 1), self.table.manifest(v)
            n0 = {f["name"] for f in m0["schemas"][str(m0["current_schema"])]}
            n1 = {f["name"] for f in m1["schemas"][str(m1["current_schema"])]}
            gone = (n0 - n1) & folded
            if gone:
                raise RuntimeError(
                    f"column(s) {sorted(gone)} folded by this view were "
                    f"renamed/dropped at table version {v} — incremental "
                    "refresh across that is not well-defined; build() "
                    "under the current schema to re-derive"
                )

    def _commit(self, view: DataFrame, folded_through: int) -> int:
        rel = f"view_v{self.state.version() + 1:05d}"
        self.state.write(view, rel)
        return self.state.commit(
            {
                "view": rel,
                "folded_through": folded_through,
                "anchor_sha": self._manifest_sha(folded_through),
            }
        )

    # ------------------------------------------------------------- reads
    def read(self, as_of: int | None = None) -> DataFrame:
        return self.state.read([self.state.manifest(as_of)["view"]])

    def expire(self, keep_last: int = 2) -> list[str]:
        return self.state.expire(keep_last=keep_last)

    def metrics(self) -> dict:
        out = self.state.metrics_base()
        if out["version"]:
            out["folded_through"] = self.state.manifest()["folded_through"]
        return out
