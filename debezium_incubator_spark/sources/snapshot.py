"""S1/S2 — initial snapshot source.

Cassandra side scans each CDC-enabled, not-yet-snapshotted table and
emits INSERT envelopes with snapshot=true and the default offset
("",-1) (SnapshotProcessor.java:99-220, query gen :161-175, row loop
:199-218). Oracle reads ``SELECT * FROM t AS OF SCN n`` — a consistent
point — and emits READ ('r') envelopes
(OracleSnapshotChangeEventSource.java:110-139, 228-231,
SnapshotChangeRecordEmitter.java:30-32).

Here the caller hands ``CDCEngine.bootstrap`` a consistent read of the
source table; its rows become 'r' envelopes at offset -1, so every
changelog offset orders after them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_incubator_spark.operators.envelope import OP_READ, build_envelope
from debezium_incubator_spark.sources.generator import BASE_TS_MS

SNAPSHOT_OFFSET = -1  # ≙ OffsetPosition("", -1) default (SnapshotProcessor)


def snapshot_envelopes(
    source: DataFrame,
    payload_fields: list[str] | None = None,
    ts_ms: int = BASE_TS_MS,
) -> DataFrame:
    """Turn a consistent read of the source table into 'r' envelopes."""
    fields = payload_fields or ["commit", "lang", "content"]
    return build_envelope(
        source,
        op=OP_READ,
        offset=F.lit(SNAPSHOT_OFFSET).cast("long"),
        ts_ms=F.lit(ts_ms),
        payload_fields=fields,
        snapshot=True,
    )

