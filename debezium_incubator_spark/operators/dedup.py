"""Order-aware dedup: the engine's correctness core (SURVEY.md §2.3).

* D1 offset-skip filter — idempotent replay guard
  (FileOffsetWriter.isOffsetProcessed, FileOffsetWriter.java:92-104;
  LcrEventHandler.java:53-65).
* D2 last-writer-wins per key — the north rule's
  ``row_number() OVER (PARTITION BY key ORDER BY offset DESC) = 1``.
  Two implementations:
    - ``lww_latest``: hash-aggregate ``max_by(struct(payload),
      struct(order))`` — partial aggregation (map-side combine) makes it
      skew-proof at 100 TB without salting, no per-key sort;
    - ``lww_latest_window``: the literal window form, with an optional
      salted two-phase variant for hot keys (north-rule salting story).
  Tests assert both produce identical results.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def unprocessed_predicate(
    max_offsets: dict[str, int],
    bucket_col: str = "_bucket",
    offset_col: str = "offset",
    num_buckets: int | None = None,
) -> Column | None:
    """D1 as a Column (None = no marks, keep every row): true for events
    above their bucket's high-water mark.

    The marks are tiny (one long per bucket), so they ride INSIDE the
    expression as a literal map — no join, no driver-built DataFrame to
    broadcast. ``try_element_at`` yields NULL (never raises under ANSI)
    for an unmarked bucket, which passes every offset through. When
    every bucket has a mark, the residual ``offset > min(marks)`` is a
    plain conjunct that Catalyst pushes to the parquet scan (row-group
    min/max pruning).
    """
    if not max_offsets:
        return None
    marks = F.create_map(
        *[x for b, o in max_offsets.items() for x in (F.lit(int(b)), F.lit(int(o)).cast("long"))]
    )
    keep = _above_mark(F.try_element_at(marks, F.col(bucket_col)), offset_col)
    if num_buckets is not None and len(max_offsets) == num_buckets:
        # safe only when marks cover all buckets (an unmarked bucket must
        # pass every offset through)
        global_min = min(int(v) for v in max_offsets.values())
        keep = (F.col(offset_col) > F.lit(global_min)) & keep
    return keep


def unprocessed_by_table_predicate(
    marks_by_table: dict[str, dict[str, int]],
    table: Column,
    bucket_col: str = "_bucket",
    offset_col: str = "offset",
) -> Column:
    """D1 for a batch that mixes tables, as ONE Column: each row against
    its own table's per-bucket marks (``marks_by_table``: table →
    checkpoint ``max_offsets``). The marks ride as one JSON string
    literal that the optimizer folds into a ``map<table, map<bucket,
    mark>>`` constant, so building the Column costs the same few driver
    round trips to the JVM whatever the table count. A row whose table
    or bucket has no mark passes through."""
    marks = F.from_json(F.lit(json.dumps(marks_by_table)), "map<string,map<string,bigint>>")
    hwm = F.try_element_at(F.try_element_at(marks, table), F.col(bucket_col).cast("string"))
    return _above_mark(hwm, offset_col)


def _above_mark(hwm: Column, offset_col: str) -> Column:
    # a NULL mark (unmarked bucket) passes every offset through
    return hwm.isNull() | (F.col(offset_col) > hwm)


def filter_processed(
    df: DataFrame,
    max_offsets: dict[str, int],
    bucket_col: str = "_bucket",
    offset_col: str = "offset",
    num_buckets: int | None = None,
) -> DataFrame:
    """D1 — drop events at-or-below the per-bucket high-water mark
    (:func:`unprocessed_predicate`)."""
    keep = unprocessed_predicate(max_offsets, bucket_col, offset_col, num_buckets)
    return df if keep is None else df.filter(keep)


def _order_struct(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def lww_latest(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """D2 (hash-agg form) — latest row per key by the total event order.

    ``max_by`` runs as a partial-then-final hash aggregate: each map task
    reduces its slice of a hot key before the shuffle, so a key with 10^8
    events moves at most one row per map task — the skew answer that a
    window sort can't give.
    """
    payload_cols = payload_cols or [c for c in df.columns if c not in key_cols]
    agg = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), _order_struct(order_cols)).alias(
            "__top"
        )
    )
    return agg.select(*key_cols, *[F.col(f"__top.{c}").alias(c) for c in payload_cols])


def lww_latest_window(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    salt_buckets: int | None = None,
) -> DataFrame:
    """D2 (window form) — ``row_number() = 1`` per key over offset desc.

    With ``salt_buckets``, runs two phases: first per (key, salt) — the
    salted repartition spreads a hot key over ``salt_buckets`` reducers —
    then per key over the survivors (≤ salt_buckets rows per key).
    """
    from pyspark.sql.window import Window

    order = [F.col(c).desc() for c in order_cols]
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
        )
        w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order)
        phase1 = (
            salted.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__salt")
        )
        df = phase1
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_repartition(df: DataFrame, cols: list[str], salt_buckets: int) -> DataFrame:
    """North-rule named primitive: spread hot keys over ``salt_buckets``
    sub-partitions — ``repartition(hash(cols…, salt))`` — so a single hot
    repo/key cannot pin one reducer. Downstream per-key operators that
    need the full key group (windows) must then run a second phase over
    the salted survivors (see lww_latest_window)."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    out = salted.repartition(*[F.col(c) for c in cols], F.col("__salt"))
    return out.drop("__salt")
