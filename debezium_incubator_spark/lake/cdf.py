"""Change-data-feed over the lake table's own version chain.

The LakeTable keeps every committed version (time-travel reads,
table.py:read(version=)) and its manifests record exactly which buckets
each commit rewrote. That is enough to RECONSTRUCT the row-level change
feed of any version range after the fact — the same contract Delta's
change-data-feed gives its consumers — without the write path capturing
anything extra:

* changed buckets of a step ``v-1 → v`` = buckets whose manifest file
  lists differ (driver-side diff, no scan);
* read ONLY those buckets at both versions (manifest-level pruning —
  the untouched 99% of a 100 TB table is never listed);
* a null-safe full outer join on the key classifies each key as
  insert / delete / update (pre+post image) — identical payloads are
  CoW survivors of the bucket rewrite and emit nothing.

A consumer reads this feed one version at a time, so one that crashes
mid-read re-derives the identical feed on retry — the table versions
are immutable. Materialized views do not read it: operators/views.py
re-aggregates the changed buckets at one pinned version.

Schema evolution caveat: each side is read in its OWN version's schema
and aligned by column name (missing names → NULL), so a column rename
surfaces as the old name deleting and the new name appearing. When a
step makes a visible column name VANISH (rename/drop), the bucket diff
no longer bounds the change — every live row's name-space changed — so
such steps widen to all populated buckets. Purely ADDITIVE steps and
metadata commits with unchanged names (type widening) stay
bucket-diff-bounded and emit nothing for untouched rows. This is a
stricter posture than Delta, which simply refuses CDF across
non-additive schema changes.

≙ the consumer-facing change stream the reference's connectors emit
per commit (ChangeRecord envelopes, Record.java operation kinds);
here it is derived after the fact from the committed version chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from debezium_incubator_spark.lake.table import LakeTable

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def _visible_names(table: LakeTable, version: int) -> list[str]:
    m = table.manifest(version)
    return [f["name"] for f in m["schemas"][str(m["current_schema"])]]


def changed_buckets(table: LakeTable, version: int) -> list[int]:
    """Buckets whose file list differs between ``version-1`` and
    ``version`` — a pure manifest diff, no data touched. A step where a
    visible column name VANISHED (rename/drop) returns every populated
    bucket: each live row's name-space changed table-wide. A pure ADD
    stays bucket-diff-bounded — the new column is NULL at both versions
    for untouched buckets, so widening would scan the whole table to
    emit nothing."""
    m0, m1 = table.manifest(version - 1), table.manifest(version)
    keys = set(m0["buckets"]) | set(m1["buckets"])
    vanished = set(_visible_names(table, version - 1)) - set(
        _visible_names(table, version)
    )
    if vanished:
        return sorted(int(b) for b in keys if m0["buckets"].get(b) or m1["buckets"].get(b))
    return sorted(
        int(b) for b in keys if m0["buckets"].get(b) != m1["buckets"].get(b)
    )


def step_changes(
    table: LakeTable,
    spark: SparkSession,
    version: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level changes of the single commit ``version-1 → version``."""
    key_cols = key_cols or table.manifest(version)["bucket_cols"]
    # ADVICE r5: a step that renames/drops a KEY column would otherwise
    # surface as a raw AnalysisException out of aligned()'s select —
    # the feed's row identity is not well-defined across such a step,
    # so say exactly that
    for v in (version - 1, version):
        missing = [k for k in key_cols if k not in _visible_names(table, v)]
        if missing:
            raise ValueError(
                f"change feed key column(s) {missing} not present in table "
                f"version {v}'s schema — a key/bucket column changed across "
                f"step {version - 1}→{version}; row-level changes are not "
                "well-defined across it"
            )
    buckets = changed_buckets(table, version)
    new = table.read(spark, version=version, buckets=buckets)
    old = table.read(spark, version=version - 1, buckets=buckets)

    # align by name onto the union of both schemas (rename = del+add)
    names = list(dict.fromkeys(old.columns + new.columns))
    payload = [c for c in names if c not in key_cols]

    def aligned(df):
        have = set(df.columns)
        return df.select(
            *key_cols,
            *[
                (F.col(c) if c in have else F.lit(None)).alias(c)
                for c in payload
            ],
            # presence marker: classification must not key off a key
            # column being NULL — a live row may legitimately carry one
            F.lit(1).alias("_present"),
        )

    o = aligned(old).alias("o")
    n = aligned(new).alias("n")
    j = o.join(n, [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols], "full")

    o_pay = F.struct(*[F.col(f"o.{c}") for c in payload]) if payload else F.lit(0)
    n_pay = F.struct(*[F.col(f"n.{c}") for c in payload]) if payload else F.lit(0)

    # classify in ONE pass: each joined key emits 0 (CoW survivor),
    # 1 (insert/delete) or 2 (update pre+post) rows via explode — a
    # 4-way union of filters would re-evaluate the join per branch.
    def row(prefix, ctype):
        return F.struct(
            *[F.col(f"{prefix}.{c}").alias(c) for c in key_cols + payload],
            F.lit(ctype).alias(CHANGE_TYPE_COL),
        )

    rows = (
        F.when(F.col("o._present").isNull(), F.array(row("n", "insert")))
        .when(F.col("n._present").isNull(), F.array(row("o", "delete")))
        .when(
            ~o_pay.eqNullSafe(n_pay),
            F.array(row("o", "update_preimage"), row("n", "update_postimage")),
        )
        # equal payloads (CoW survivors): NULL array — explode emits nothing
    )
    return (
        j.select(F.explode(rows).alias("r"))
        .select("r.*")
        .withColumn(COMMIT_VERSION_COL, F.lit(version))
    )


def table_changes(
    table: LakeTable,
    spark: SparkSession,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Changes of the half-open version range ``(from_version,
    to_version]`` (Delta CDF convention: from is exclusive — "changes
    since the version I already have")."""
    to_version = table.version() if to_version is None else to_version
    if to_version <= from_version:
        raise ValueError(f"empty version range ({from_version}, {to_version}]")
    steps = [
        step_changes(table, spark, v, key_cols)
        for v in range(from_version + 1, to_version + 1)
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out
