"""Shared test helpers: envelope row construction + independent oracle."""

from __future__ import annotations

import os

import duckdb

from debezium_incubator_spark.operators.envelope import changelog_schema

DEFAULT_PAYLOAD = [("commit", "string"), ("lang", "string"), ("content", "string")]


def mk_events(spark, rows, payload_fields=None):
    """rows: list of dicts {offset, op, repo, path, after: dict|None,
    before: dict|None, ts_ms?}. Builds full envelope rows."""
    from pyspark.sql import types as T

    base = changelog_schema(payload_fields or DEFAULT_PAYLOAD)
    # all-nullable variant so tests can construct corrupt events too
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in base.fields])
    p_names = [f.name for f in schema["after"].dataType.fields]

    def tup(img):
        if img is None:
            return None
        return tuple(img.get(n) for n in p_names)

    data = []
    for r in rows:
        off = r["offset"]
        data.append(
            (
                off,
                off // (1 << 20),
                off % (1 << 20),
                r["op"],
                r.get("ts_ms", 1_700_000_000_000 + off),
                r["repo"],
                r["path"],
                tup(r.get("before")),
                tup(r.get("after")),
                None,
            )
        )
    return spark.createDataFrame(data, schema)


def expected_final_state(spark, src_df, log_df, tmp_dir):
    """Independent reduction in DuckDB (separate engine, separate SQL):
    LWW per key over snapshot ∪ changelog; pandas sorted by (repo,path).
    src_df may be None (no snapshot phase)."""
    tmp_dir = str(tmp_dir)
    log_df.write.mode("overwrite").parquet(os.path.join(tmp_dir, "oracle_log"))
    if src_df is not None:
        src_df.write.mode("overwrite").parquet(os.path.join(tmp_dir, "oracle_src"))
        snap_sql = f"""
      SELECT -1::BIGINT AS "offset", 'r' AS op, repo, path,
             "commit" AS c_commit, lang AS c_lang, content AS c_content
      FROM read_parquet('{tmp_dir}/oracle_src/*.parquet')"""
    else:
        snap_sql = """
      SELECT NULL::BIGINT AS "offset", NULL::VARCHAR AS op, NULL::VARCHAR AS repo,
             NULL::VARCHAR AS path, NULL::VARCHAR AS c_commit,
             NULL::VARCHAR AS c_lang, NULL::VARCHAR AS c_content WHERE 1=0"""
    q = f"""
    WITH snap AS ({snap_sql}
    ), chg AS (
      SELECT "offset", op, repo, path,
             after."commit" AS c_commit, after.lang AS c_lang, after.content AS c_content
      FROM read_parquet('{tmp_dir}/oracle_log/*.parquet')
    ), allev AS (
      SELECT * FROM snap UNION ALL SELECT * FROM chg
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY "offset" DESC, op DESC) rn
      FROM allev
    )
    SELECT repo, path, c_commit AS "commit", c_lang AS lang, c_content AS content,
           lower(sha256(c_content)) AS content_sha256
    FROM ranked WHERE rn = 1 AND op NOT IN ('d','t')
    ORDER BY repo, path
    """
    return duckdb.sql(q).df().reset_index(drop=True)


def state_pdf(engine, version=None):
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
    return (
        engine.final_state(version=version)
        .select(*cols)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


# ---------------------------------------------------------------- lake tables
def mk_lake_table(spark, path, rows, schema, keys=("repo", "path"), num_buckets=4):
    """Create a bucketed LakeTable and commit ``rows`` as version 1."""
    from debezium_incubator_spark.lake.table import LakeTable

    t = LakeTable.create(path, schema, bucket_cols=list(keys), num_buckets=num_buckets)
    df = t.with_bucket(spark.createDataFrame(rows, schema))
    t.commit(df, replace_buckets=range(num_buckets), summary={"epoch": 0})
    return t


def commit_full_state(spark, t, rows, schema):
    """Commit ``rows`` as the FULL new state of every bucket they (or
    the current state) occupy — a CoW rewrite like the merge path's."""
    from pyspark.sql import functions as F

    from debezium_incubator_spark.lake.table import BUCKET_COL

    df = t.with_bucket(spark.createDataFrame(rows, schema))
    cur = t.with_bucket(t.read(spark))
    touched = sorted(
        r[0]
        for r in df.select(BUCKET_COL).union(cur.select(BUCKET_COL)).distinct().collect()
    )
    # neutral summary: the engine's real summaries carry {epoch,
    # max_offsets, counters}; a helper-invented epoch here would be an
    # off-by-one-looking value future assertions could latch onto
    t.commit(
        df.filter(F.col(BUCKET_COL).isin(touched)),
        replace_buckets=touched,
        summary={},
    )
    return t.version()


def assert_marks_within_stream_pos(store) -> None:
    """The changelog-GC watermark rests on this: in every checkpoint with
    a stream position, no bucket's mark lies above it (ordered delivery),
    so the table has processed every offset ≤ ``stream_pos``."""
    checked = 0
    for e in store.epochs():
        ck = store.load(e)
        pos = int(ck.get("stream_pos", -1))
        if pos >= 0:
            marks = ck.get("max_offsets", {})
            assert all(int(v) <= pos for v in marks.values()), (e, pos, marks)
            checked += 1
    assert checked, "no checkpoint carries a stream position"
