"""Projection / row-set filters + tombstone emission + routing.

* T6 field blacklist — per-table field list removed from insert/update
  images, never from deletes (FieldFilterSelector.java:28-50,
  applied in RecordMaker.java:36-48).
* T7 table whitelist/blacklist — regex include/exclude on the table id
  plus a built-in system exclusion list
  (OracleConnectorConfig.java:101-103, 325-348).
* T8 tombstone emission — on DELETE with tombstones-on-delete, also emit
  a record with the same key and null value (RecordMaker.java:24-58,
  TombstoneRecord.java:14-24).
* T13 route/topic naming — ``prefix.keyspace.table`` with invalid chars
  sanitized to ``_`` (CassandraTopicSelector.java:26-111).

All are pure Column expressions → Catalyst pushes T7 to the scan and
prunes T6 columns for free.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_incubator_spark.operators.envelope import DELETE_OPS, OP_TOMBSTONE

# ≙ the Oracle connector's built-in system-schema excludes
# (OracleConnectorConfig.java:325-348)
SYSTEM_REPO_EXCLUDES = [r"^_system/", r"^_internal/", r"^sys/"]


def drop_envelope_fields(
    df: DataFrame,
    fields: list[str],
    struct_cols: tuple[str, ...] = ("after", "before"),
    table_col: str = "repo",
) -> DataFrame:
    """T6 — remove blacklisted payload fields from before/after images of
    insert/update/read rows; delete rows pass through untouched
    (reference: deletes are never field-filtered,
    FieldFilterSelector.java:40-44).

    Entries are either bare field names (apply to every table) or
    ``table.field`` keyed per table — the reference filters by fully
    qualified ``keyspace.table.field`` (FieldFilterSelector.java:28-50,
    config CassandraConnectorConfig.java:230). Our table id is the
    ``table_col`` value (repo), so ``org00/repo-0001.content`` scrubs
    ``content`` only for that repo. The per-table condition rides the
    same when() — still a pure Column expression."""
    if not fields:
        return df
    global_fields = [f for f in fields if "." not in f]
    per_table: dict[str, list[str]] = {}
    for f in fields:
        if "." in f:
            tbl, fld = f.rsplit(".", 1)
            per_table.setdefault(fld, []).append(tbl)
    out = df
    for sc in struct_cols:
        if sc not in df.columns:
            continue
        subfields = {f.name: f.dataType for f in df.schema[sc].dataType.fields}
        scrubbed = F.col(sc)
        for f in global_fields:
            if f in subfields:
                scrubbed = scrubbed.withField(f, F.lit(None).cast(subfields[f]))
        for fld, tables in per_table.items():
            if fld in subfields:
                match = F.col(table_col).isin(*tables)
                scrubbed = scrubbed.withField(
                    fld,
                    F.when(match, F.lit(None).cast(subfields[fld])).otherwise(
                        scrubbed[fld]
                    ),
                )
        out = out.withColumn(
            sc,
            F.when(F.col("op").isin(*DELETE_OPS), F.col(sc)).otherwise(scrubbed),
        )
    return out


def table_predicate(
    include_regex: str | None = None,
    exclude_regex: str | None = None,
    table_col: str = "repo",
    exclude_system: bool = True,
) -> Column | None:
    """T7 as a Column (None = keep every row) — whitelist wins over
    blacklist when both set (reference: whitelist checked first,
    Filters/OracleConnectorConfig.java:325-348); system tables always
    excluded."""
    c = F.col(table_col)
    conds = [~c.rlike(pat) for pat in SYSTEM_REPO_EXCLUDES] if exclude_system else []
    if include_regex:
        conds.append(c.rlike(include_regex))
    elif exclude_regex:
        conds.append(~c.rlike(exclude_regex))
    return functools.reduce(operator.and_, conds) if conds else None


def table_filter(
    df: DataFrame,
    include_regex: str | None = None,
    exclude_regex: str | None = None,
    table_col: str = "repo",
    exclude_system: bool = True,
) -> DataFrame:
    """T7 — ``df`` restricted to :func:`table_predicate`."""
    pred = table_predicate(include_regex, exclude_regex, table_col, exclude_system)
    return df if pred is None else df.filter(pred)


def emit_tombstones(df: DataFrame, enabled: bool = True) -> DataFrame:
    """T8 — after each delete envelope, add a tombstone row: same key +
    offset, null images, op='t'. Downstream LWW keeps ordering stable
    because (offset, op) ties break deterministically ('t' > 'd')."""
    if not enabled:
        return df
    tombs = df.filter(F.col("op") == "d").withColumn("op", F.lit(OP_TOMBSTONE))
    for img in ("before", "after"):
        if img in df.columns:
            tombs = tombs.withColumn(img, F.lit(None).cast(df.schema[img].dataType))
    return df.unionByName(tombs)


def sanitize_name(col: Column) -> Column:
    """T13 — topic-name char policy: [a-zA-Z0-9._-] kept, rest → '_'."""
    return F.regexp_replace(col, r"[^a-zA-Z0-9._-]", "_")


def route_for(prefix: str, keyspace_col: Column, table_col: Column) -> Column:
    return F.concat_ws(
        ".", F.lit(prefix), sanitize_name(keyspace_col), sanitize_name(table_col)
    )
