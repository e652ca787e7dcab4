"""Incremental aggregate-view maintenance over the CDC feed.

The classic downstream of the reference's change stream: a per-group
aggregate (counts, sums, min/max) over the CURRENT table state, kept up
to date from change batches instead of re-scanning the table. The
maintenance algebra is the standard IVM one:

* inserts contribute ``+1`` / ``+measure`` to their group;
* retractions (the OLD current row of every updated/deleted key)
  contribute ``-1`` / ``-measure``;
* groups whose count reaches zero leave the view;
* ``min``/``max``: inserts extend extremes algebraically
  (least/greatest); retraction is NOT delta-maintainable only when the
  retracted value equals the current extreme — exactly those DETHRONED
  groups get a recompute against current state. The recompute's
  aggregation is bounded to the dethroned groups, but the state scan is
  not (group columns don't prune buckets) — a batch that dethrones
  nothing never scans state, and append-only feeds may pass
  state=None (a dethroning retraction then raises rather than writing
  stale extremes).

Accumulators are EXACT (longs): floating-point delta-sums drift away
from a recompute after enough batches, so money-like doubles should be
scaled to integral units by the caller (the oracle query uses cents).
That is also what production IVM does at 100 TB — float accumulators
are an audit hazard.

Scale shape: the fold is one union-reaggregate — a single exchange of
~|view| + |batch| partially-aggregated rows, no joins, no broadcasts,
skew-proof (map-side combine collapses hot groups before the shuffle).
``agg_view_apply`` materializes the fold once and, with extreme
columns, runs one driver-side probe for dethroned groups; it runs no
other action. The only join in the operator is the dethrone
recompute's semi against ``state``, bounded to the hit groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

COUNT_COL = "n_rows"


def _delta_aggs(measure_cols: list[str]):
    return [F.count(F.lit(1)).alias(COUNT_COL)] + [
        F.sum(c).cast("long").alias(f"sum_{c}") for c in measure_cols
    ]


def _extreme_aggs(extreme_cols: list[str]):
    out = []
    for c in extreme_cols:
        out.append(F.min(c).alias(f"min_{c}"))
        out.append(F.max(c).alias(f"max_{c}"))
    return out


def agg_view(
    state: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    extreme_cols: list[str] | None = None,
) -> DataFrame:
    """Full rebuild: one partial-aggregated groupBy over current state."""
    return state.groupBy(*group_cols).agg(
        *_delta_aggs(measure_cols), *_extreme_aggs(extreme_cols or [])
    )


def _fold(
    view: DataFrame,
    inserted: DataFrame,
    retracted: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    extreme_cols: list[str],
) -> DataFrame:
    """The lazy union-reaggregate fold of one batch into the view: the
    view's columns plus ``_redo`` (a retraction dethroned one of the
    group's extremes; always false without extreme columns)."""
    # a column may be both a measure and an extreme — select it once
    cols = list(dict.fromkeys(group_cols + measure_cols + extreme_cols))
    signed = inserted.select(*cols, F.lit(1).alias("_sign")).unionByName(
        retracted.select(*cols, F.lit(-1).alias("_sign"))
    )
    ins, ret = F.col("_sign") == 1, F.col("_sign") == -1
    sum_cols = [f"sum_{c}" for c in measure_cols]

    batch_parts = signed.select(
        *group_cols,
        F.col("_sign").cast("long").alias(COUNT_COL),
        *[
            (F.col(c) * F.col("_sign")).cast("long").alias(f"sum_{c}")
            for c in measure_cols
        ],
        *[
            part
            for c in extreme_cols
            for part in (
                F.when(ins, F.col(c)).alias(f"_min_{c}"),
                F.when(ins, F.col(c)).alias(f"_max_{c}"),
                F.when(ret, F.col(c)).alias(f"_ret_min_{c}"),
                F.when(ret, F.col(c)).alias(f"_ret_max_{c}"),
            )
        ],
    )
    view_parts = view.select(
        *group_cols,
        COUNT_COL,
        *sum_cols,
        *[
            part
            for c in extreme_cols
            for part in (
                F.col(f"min_{c}").alias(f"_min_{c}"),
                F.col(f"max_{c}").alias(f"_max_{c}"),
                F.lit(None).alias(f"_ret_min_{c}"),
                F.lit(None).alias(f"_ret_max_{c}"),
            )
        ],
    )
    agg = view_parts.unionByName(batch_parts).groupBy(*group_cols).agg(
        F.sum(COUNT_COL).cast("long").alias(COUNT_COL),
        *[F.sum(c).cast("long").alias(c) for c in sum_cols],
        *[
            a
            for c in extreme_cols
            for a in (
                F.min(f"_min_{c}").alias(f"min_{c}"),
                F.max(f"_max_{c}").alias(f"max_{c}"),
                F.min(f"_ret_min_{c}").alias(f"_ret_min_{c}"),
                F.max(f"_ret_max_{c}").alias(f"_ret_max_{c}"),
            )
        ],
    )
    redo = F.lit(False)
    for c in extreme_cols:
        # a retraction dethrones an extreme only by retracting a value
        # that REACHES the aggregated candidate (view ⊕ inserts; ≤/≥
        # defensively) — comparing against the candidate, not the view
        # value, also covers a telescoped range that inserts 5 then
        # retracts it (the stale 5 must trigger the recompute). NULL
        # comparisons (no retractions / all-NULL column) read as no-hit.
        hit = (F.col(f"_ret_min_{c}") <= F.col(f"min_{c}")) | (
            F.col(f"_ret_max_{c}") >= F.col(f"max_{c}")
        )
        redo = redo | F.coalesce(hit, F.lit(False))
    # ADVICE r5: a count that went NEGATIVE is an unmatched retraction
    # (feed/state inconsistency) — fail loudly instead of letting the
    # `> 0` filter silently vanish the group (the module's posture for
    # the state=None dethrone case). The raise lives in the when-branch
    # with a DIFFERENT otherwise, so Catalyst cannot simplify it away.
    guarded_count = F.when(
        F.col(COUNT_COL) < 0,
        F.raise_error(
            F.concat(
                F.lit("agg_view_apply: negative group count (unmatched "
                      "retraction — feed and view state are inconsistent): "),
                F.col(COUNT_COL).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(COUNT_COL))
    return agg.select(
        *group_cols,
        guarded_count.alias(COUNT_COL),
        *sum_cols,
        *[name for c in extreme_cols for name in (f"min_{c}", f"max_{c}")],
        redo.alias("_redo"),
    ).where(F.col(COUNT_COL) > 0)


def agg_view_apply(
    view: DataFrame,
    inserted: DataFrame,
    retracted: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    extreme_cols: list[str] | None = None,
    state: DataFrame | None = None,
) -> DataFrame:
    """Fold one batch's row-level effect into the view.

    ``inserted``/``retracted`` are the NEW current rows and the OLD
    current rows of the keys the batch touched. They may be lazy: the
    fold is materialized exactly once (``localCheckpoint``), so each is
    evaluated once, and the returned view reads from that copy (a
    dethrone recompute stays lazy over it).

    The fold is a UNION-REAGGREGATE, not a join: the view's rows and
    the batch's signed contributions are shaped identically and run
    through one two-level hash aggregate. One exchange of ~|view|+
    |batch-groups| partially-aggregated rows, no broadcast, skew-proof,
    and null-safe by construction (groupBy keys NULL like any value —
    the join-based shape needed eqNullSafe everywhere, and Spark cannot
    broadcast a FULL OUTER join anyway, so it silently degraded to
    shuffling the view through a sort-merge join).

    min/max maintenance: inserts extend extremes algebraically (the
    same min/max fold — no recompute ever); a retraction triggers a
    recompute ONLY for groups where the retracted value REACHES the
    candidate extreme (the one case retraction can't maintain). With
    extreme columns one driver-side probe of the materialized fold
    finds the dethroned groups: none → the fold is the answer and
    ``state`` is never scanned; some with ``state=None`` → RuntimeError
    (the append-only contract: no state to recompute from, so fail
    instead of writing stale extremes); otherwise those groups' extremes
    are recomputed from ``state`` (the post-batch table) semi-joined to
    them — the aggregation is bounded to the hit groups, the state scan
    is not (group columns don't prune buckets).

    Accumulators are longs; measures must already be in integral units
    (the module contract) — batch contributions are cast per row, which
    equals the old cast-after-sum only for integral inputs.
    """
    extreme_cols = extreme_cols or []
    merged = _fold(
        view, inserted, retracted, group_cols, measure_cols, extreme_cols
    ).localCheckpoint()
    out_cols = [c for c in merged.columns if c != "_redo"]
    if not extreme_cols or merged.filter(F.col("_redo")).isEmpty():
        return merged.select(*out_cols)
    if state is None:
        raise RuntimeError(
            "agg_view_apply: a retraction dethroned a min/max but "
            "state=None was passed — supply the post-batch state"
        )

    sum_cols = [f"sum_{c}" for c in measure_cols]
    ok = merged.filter(~F.col("_redo")).select(*out_cols)
    redo_rows = merged.filter(F.col("_redo")).alias("_m")
    fresh = (
        state.select(*list(dict.fromkeys(group_cols + extreme_cols)))
        .alias("_s")
        .join(
            F.broadcast(redo_rows.select(*group_cols).alias("_g")),
            [
                F.col(f"_s.{c}").eqNullSafe(F.col(f"_g.{c}"))
                for c in group_cols
            ],
            "semi",
        )
        .groupBy(*group_cols)
        .agg(*_extreme_aggs(extreme_cols))
        .alias("_f")
    )
    # left join: a count>0 group MUST have state rows; NULL extremes
    # from a missing match surface a feed/state inconsistency instead
    # of silently dropping the group
    redone = redo_rows.join(
        F.broadcast(fresh),
        [F.col(f"_m.{c}").eqNullSafe(F.col(f"_f.{c}")) for c in group_cols],
        "left",
    ).select(
        *[F.col(f"_m.{c}").alias(c) for c in group_cols],
        *[F.col(f"_m.{c}").alias(c) for c in [COUNT_COL, *sum_cols]],
        *[
            F.col(f"_f.{name}").alias(name)
            for c in extreme_cols
            for name in (f"min_{c}", f"max_{c}")
        ],
    )
    return ok.unionByName(redone.select(ok.columns))
