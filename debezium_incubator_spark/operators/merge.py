"""D3 — MERGE INTO (upsert-apply) as key-partitioned copy-on-write.

Reference semantics: the Kafka compacted topic keyed by PK *is* the
materialized table (Record.buildKey, Record.java:73-84); insert/update
replace the value, delete + tombstone remove the key
(TombstoneRecord.java:14-24). We apply a deduped batch to the LakeTable
the way Iceberg CoW MERGE does physically, with an explicit shuffle
story:

1. bucket the batch on the primary key (same function as the table
   layout) — changed buckets = the only data ever rewritten;
2. LWW-dedup the batch (hash agg, skew-proof — see dedup.py);
3. survivors = current rows of changed buckets ANTI JOIN batch keys.
   The key set of a CDC batch is small relative to the target, so it is
   BROADCAST: the 100 TB side never shuffles. The keys come straight
   from the (guarded) batch, not from the LWW output: every batch key
   has exactly one LWW winner, deletes included, so the set is the same
   while the broadcast side stays a bare key projection (no UDF, no
   cache) and the LWW pipeline runs once, inside the write;
4. new bucket contents = survivors ∪ batch upserts, one commit.

Partial-image updates (cell ``set`` flags,
CommitLogReadHandlerImpl.java:351-410 null-vs-unset semantics) are
supported via an ``after_set`` column: matched current rows are fetched
with a broadcast SEMI join and coalesced field-wise.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column
from pyspark.sql import functions as F

from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable
from debezium_incubator_spark.operators.dedup import lww_latest

OP_COL = "op"
DELETE_OPS = ("d", "t")
# broadcast-anti gate: the driver builds the key set, so bound it in keys
# AND bytes (4M long (repo, path) strings are hundreds of MB)
BROADCAST_KEYS_MAX = 4_000_000
BROADCAST_KEY_BYTES_MAX = 64 * 1024 * 1024
TARGET_ROWS_PER_WRITE_TASK = 500_000


def key_bytes(key_cols: list[str]) -> Column:
    """A row's measured key length: the string bytes of its key columns
    (drives the broadcast-vs-fused merge decision)."""
    return sum(
        (F.coalesce(F.length(F.col(k).cast("string")), F.lit(0)) for k in key_cols),
        F.lit(0),
    )


def batch_stats_aggs(key_len: Column, order0: str, keep: Column | None = None) -> list:
    """The per-bucket stats aggregates: max offset (checkpoint marks),
    row/delete/tombstone counts, and the summed ``key_len`` (see
    :func:`key_bytes`). ``keep`` restricts every aggregate to the rows
    it holds for."""

    def kept(c):
        return c if keep is None else F.when(keep, c)

    return [
        F.max(kept(F.col(order0))).alias("max_off"),
        F.count(kept(F.lit(1))).alias("n"),
        F.sum(kept(F.col(OP_COL).isin(*DELETE_OPS).cast("long"))).alias("n_del"),
        F.sum(kept((F.col(OP_COL) == "t").cast("long"))).alias("n_tomb"),
        F.sum(kept(key_len)).alias("key_bytes"),
    ]


def batch_stats_frame(
    b, key_len: Column, order0: str, keep: Column | None = None, by: tuple = ()
):
    """The skinny stats aggregate over a bucketed batch, grouped by
    ``by`` and BUCKET_COL. With ``keep`` the batch is the RAW one: each
    row also carries its group's raw offset bounds ``raw_lo``/``raw_hi``
    and the merge stats cover only the ``keep`` rows (a group with none
    of them has ``n`` = 0)."""
    aggs = batch_stats_aggs(key_len, order0, keep)
    if keep is not None:
        aggs = [
            F.min(order0).alias("raw_lo"),
            F.max(order0).alias("raw_hi"),
            *aggs,
        ]
    return b.groupBy(*by, BUCKET_COL).agg(*aggs)


def batch_stats_rows(
    b, key_len: Column, order0: str, keep: Column | None = None, by: tuple = ()
):
    """ONE stats pass: :func:`batch_stats_frame`, collected. Split out of
    merge_upsert so a driver loop can PREFETCH the next epoch's stats
    concurrently with the current epoch's write, and so the streaming
    drivers can fold their offset bounds into the same pass."""
    return batch_stats_frame(b, key_len, order0, keep, by).collect()


def merge_upsert(
    table: LakeTable,
    batch,
    key_cols: list[str],
    order_cols: list[str],
    summary: dict | None = None,
    after_set_col: str | None = None,
    assume_unique_keys: bool = False,
    extra_counters: dict | None = None,
    stats_rows: list | None = None,
    trust_bucket_col: bool = False,
) -> tuple[int, dict]:
    """Apply one change batch; returns (new_table_version, batch_stats).

    ``batch`` columns: key_cols + table payload columns + op + order
    columns. ``batch_stats`` = {"max_offsets": {bucket: long},
    "counters": {...}} for the checkpoint.

    ``stats_rows``: prefetched batch_stats_rows of EXACTLY this batch's
    post-guard rows, buckets with ``n`` = 0 left out (run() prefetches
    the next disjoint slice, where the replay guard is a no-op; the
    streaming driver folds them into its bounds pass).
    ``trust_bucket_col``: BUCKET_COL came from THIS table's bucket
    function; else it is recomputed, since a stale bucket column would
    corrupt the layout.
    """
    spark = batch.sparkSession
    m = table.manifest()
    target_cols = [f["name"] for f in table.current_fields(m)]
    payload_cols = [c for c in target_cols if c not in key_cols]
    out_cols = [*key_cols, *payload_cols, BUCKET_COL]

    # no persist: the stats pass prunes to (bucket, offset, op) — a
    # skinny columnar scan — while the write pass computes the full
    # pipeline exactly once; caching the full batch would force the
    # normalization/fingerprint work into the stats pass too
    b = (
        batch
        if trust_bucket_col and BUCKET_COL in batch.columns
        else table.with_bucket(batch, m)
    )
    order0 = order_cols[0]
    target_empty = not m["buckets"]

    # 1. stats. For an EMPTY target (bootstrap) they only feed the
    # manifest summary, assembled AFTER the data write, so the collect
    # runs CONCURRENTLY with the write (as run()'s prefetch does; serial
    # stats were ~2-3 s of every sf1.0 snapshot). A quick isEmpty probe
    # keeps the no-commit contract for an empty batch.
    if stats_rows is None and not target_empty:
        stats_rows = batch_stats_rows(b, key_bytes(key_cols), order0)
    if b.isEmpty() if stats_rows is None else not stats_rows:
        return table.version(), {"max_offsets": {}, "counters": {"events_in": 0}}

    def finalize(rows):
        max_offsets = {str(int(r[BUCKET_COL])): int(r["max_off"]) for r in rows}
        counters = {
            "events_in": sum(int(r["n"]) for r in rows),
            "deletes": sum(int(r["n_del"]) for r in rows),
            "tombstones": sum(int(r["n_tomb"]) for r in rows),
            "buckets_touched": len(max_offsets),
            **(extra_counters or {}),
        }
        stats = {"max_offsets": max_offsets, "counters": counters}
        return stats, {**(summary or {}), **stats}

    final = None if stats_rows is None else finalize(stats_rows)
    pool = stats_fut = None
    try:
        if final is None:
            pool = ThreadPoolExecutor(max_workers=1)
            stats_fut = pool.submit(batch_stats_rows, b, key_bytes(key_cols), order0)

        # 2. pick the plan from table stats (≙ a cost-based MERGE plan):
        #  * broadcast-anti — batch keys ≪ target rows (the 100 TB steady
        #    state): batch keys ride a broadcast into an anti-join, the
        #    huge target side never shuffles;
        #  * fused — batch rivals the target (catch-up): ONE hash-agg
        #    shuffle computes the final per-key state over current ∪
        #    batch, current rows ordered below every event; no driver-side
        #    key table. Partial batches pass the same gates.
        changed = [] if target_empty else sorted(int(k) for k in final[0]["max_offsets"])
        target_rows = 0 if target_empty else table.row_count(buckets=changed, manifest=m)
        events_in = final[0]["counters"]["events_in"] if final else 0
        # estimated driver-side size of the broadcast key set: measured
        # key bytes + ~48 B/row HashedRelation overhead
        key_bytes_est = sum(int(r["key_bytes"] or 0) for r in stats_rows or ()) + 48 * events_in
        use_broadcast = (
            not target_empty
            and (events_in <= min(BROADCAST_KEYS_MAX, max(target_rows // 4, 100_000)))
            and key_bytes_est <= BROADCAST_KEY_BYTES_MAX
        )

        deleted = F.col(OP_COL).isin(*DELETE_OPS)
        partial = after_set_col is not None and not assume_unique_keys

        def lww(df, carried):
            # cell set-flag batches fold field-wise (see _lww_partial)
            if partial:
                return _lww_partial(df, key_cols, order0, payload_cols, after_set_col)
            return lww_latest(df, key_cols, order_cols, payload_cols + carried)

        extra = [c for c in (OP_COL, BUCKET_COL, after_set_col) if c]
        # snapshot bootstrap: rows are unique per key by construction (a
        # consistent table read) — skip the LWW shuffle
        latest = b.select(*key_cols, *payload_cols, *extra) if assume_unique_keys else lww(b, extra)
        if not target_empty:
            current = table.with_bucket(table.read(spark, buckets=changed), m)

        if target_empty:
            out = latest.filter(~deleted).select(*out_cols)
        elif use_broadcast:
            # the batch's own keys = `latest`'s keys (one LWW winner per
            # batch key, deletes included); a bare key projection of the
            # guarded batch keeps the unwrap UDF and the LWW out of the
            # broadcast, so `latest` is consumed once, by the write
            keys = b.select(*key_cols)
            survivors = current.join(F.broadcast(keys), key_cols, "left_anti")
            upserts = latest.filter(~deleted)
            if after_set_col:
                upserts = _coalesce_partial(
                    upserts, current, keys, key_cols, payload_cols, after_set_col
                )
            out = survivors.select(*out_cols).unionByName(upserts.select(*out_cols))
        else:
            # fused: current rows become pseudo-events ordered below all
            # real events, then one LWW over the union decides every key
            order_types = dict(b.dtypes)
            cur_cols = [
                *key_cols,
                *payload_cols,
                F.lit("r").alias(OP_COL),
                BUCKET_COL,
                *[
                    (F.lit(-(1 << 62)) if i == 0 else F.lit(None))
                    .cast(order_types[c])
                    .alias(c)
                    for i, c in enumerate(order_cols)
                    if c != OP_COL
                ],
            ]
            if partial:
                # current rows ride as FULL-IMAGE pseudo-events (NULL set
                # list, op 'r' ≠ 'u' → sets every field) below all real
                # offsets: the field-wise fold then keeps the current
                # value for any field no event set — the distributed form
                # of the broadcast path's coalesce, same delete-reset
                cur_cols.append(F.lit(None).cast("array<string>").alias(after_set_col))
            cur_ev = current.select(*cur_cols)
            fused = lww(cur_ev.unionByName(b.select(*cur_ev.columns)), [OP_COL, BUCKET_COL])
            out = fused.filter(~deleted).select(*out_cols)

        # 3. commit once
        if stats_fut is not None:
            # stats in flight: size the write from the PLAN's size estimate
            # (no extra job) toward ~256 MB per task. Such estimates only
            # hold for file-scan-rooted plans (a local relation reported
            # ~TB for one row), so clamp to 8× the parallelism: a bogus one
            # costs bounded scheduling, a huge snapshot still spreads out
            try:
                est_bytes = int(
                    str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
                )
            except Exception:
                est_bytes = 0
            par_cap = 8 * spark.sparkContext.defaultParallelism
            write_tasks = int(max(m["num_buckets"], min(est_bytes // (256 << 20), par_cap)))
        else:
            # size the CoW write shuffle by estimated output volume: a
            # touched 200 GB bucket must never funnel through ONE reducer
            # (the salt in LakeTable.commit spreads it; partitionBy keeps
            # the layout)
            rows_out_est = target_rows + events_in
            write_tasks = max(
                len(final[0]["max_offsets"]), -(-rows_out_est // TARGET_ROWS_PER_WRITE_TASK)
            )

        def summary_fn():
            nonlocal final
            final = final or finalize(stats_fut.result())
            return final[1]

        # an empty target replaces the whole bucket range, so the manifest
        # lists exactly the buckets the write produced
        version = table.commit(
            out,
            replace_buckets=range(m["num_buckets"]) if target_empty else changed,
            summary_fn=summary_fn,
            write_tasks=write_tasks,
        )
    finally:
        if pool is not None:
            pool.shutdown(wait=True)
    return version, final[0]


def _lww_partial(df, key_cols, order0, payload_cols, after_set_col):
    """Field-wise LWW fold for cell set-flag batches: a winner-only LWW
    would drop earlier partial updates' fields (review r5-2 #1).

    Per key, matching chained per-event application (CellData.java
    'set' semantics): each payload field's value comes from the LAST
    event that SET it — op != 'u' or a NULL set list sets every field —
    and a destructive event (delete/tombstone) RESETS the fold: only
    events after the key's last destructive offset contribute, so a
    post-delete re-create never inherits pre-delete cells. The row's
    ``op`` is the overall winner's (a delete winner drops the key
    downstream); the emitted ``after_set`` is synthesized as the union
    of fields actually set, so the broadcast path's current-row
    coalesce fills exactly the rest.

    Shape: one key-partitioned window max (slim: offset only) + one
    hash aggregation — no per-event iteration, no payload sort."""
    from pyspark.sql.window import Window

    is_del = F.col(OP_COL).isin(*DELETE_OPS)
    w = Window.partitionBy(*key_cols)
    df = df.withColumn("__last_del", F.max(F.when(is_del, F.col(order0))).over(w))
    # strictly below every real offset INCLUDING the fused path's
    # -(1<<62) current-row sentinel (which must count as pre-delete)
    post = F.col(order0) > F.coalesce(F.col("__last_del"), F.lit(-(1 << 62) - 1))
    sets_all = (F.col(OP_COL) != "u") | F.col(after_set_col).isNull()
    aggs = [
        F.max_by(F.col(OP_COL), F.col(order0)).alias("__wop"),
        F.max(F.col(BUCKET_COL)).alias(BUCKET_COL),
        # per-key constant (window max); carried so the output can mark
        # delete-reset keys as FULL images (review r5-3 #1 below)
        F.max(F.col("__last_del")).alias("__ld"),
    ]
    for c in payload_cols:
        setc = (
            post
            & ~is_del
            & (sets_all | F.array_contains(F.col(after_set_col), c))
        )
        aggs.append(F.max_by(F.col(c), F.when(setc, F.col(order0))).alias(c))
        aggs.append(F.max(F.when(setc, F.lit(1))).alias(f"__set_{c}"))
    g = df.groupBy(*key_cols).agg(*aggs)
    synth = F.filter(
        F.array(
            *[
                F.when(F.col(f"__set_{c}") == 1, F.lit(c)).otherwise(
                    F.lit(None).cast("string")
                )
                for c in payload_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # review r5-3 #1: a key whose fold crossed an in-batch delete must
    # emit a FULL image (NULL set list = "sets every field"), not the
    # synthesized union — otherwise the broadcast path's current-row
    # coalesce back-fills never-set fields from the PRE-delete table
    # row, resurrecting deleted cells (d-then-partial-u in one epoch).
    # The fold itself already reset those fields to NULL; NULL after_set
    # makes _coalesce_partial keep them NULL, matching the fused path.
    out_set = F.when(
        F.col("__ld").isNotNull(), F.lit(None).cast("array<string>")
    ).otherwise(synth)
    return g.select(
        *key_cols,
        *payload_cols,
        F.col("__wop").alias(OP_COL),
        BUCKET_COL,
        out_set.alias(after_set_col),
    )


def _coalesce_partial(upserts, current, keys, key_cols, payload_cols, after_set_col):
    """Cell-level set flags: a payload field absent from ``after_set`` on
    an update keeps the current table value (null-vs-unset distinction,
    CellData 'set' sub-field, CellData.java:27-87).

    Matched rows are a subset of the batch key set ``keys`` → SEMI-join
    with it (a superset of the upsert keys: a deleted key's matched row
    finds no upsert below), then broadcast the matched rows back.
    """
    matched = current.join(F.broadcast(keys), key_cols, "left_semi").select(*key_cols, *[F.col(c).alias(f"__cur_{c}") for c in payload_cols])
    joined = upserts.join(F.broadcast(matched), key_cols, "left")
    cols = []
    for c in payload_cols:
        keep_current = (
            (F.col(OP_COL) == "u")
            & F.col(after_set_col).isNotNull()
            & ~F.array_contains(F.col(after_set_col), c)
        )
        cols.append(F.when(keep_current, F.col(f"__cur_{c}")).otherwise(F.col(c)).alias(c))
    keep = [k for k in joined.columns if not k.startswith("__cur_") and k not in payload_cols]
    return joined.select(*keep, *cols)
