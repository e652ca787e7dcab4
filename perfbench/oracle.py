"""Correctness checks, run outside the timed region.

CDC workloads: the final LakeTable state must equal an independent
DuckDB last-writer-wins recomputation over the same generator parquet,
with per-row ``content_sha256`` equal to the sha256 of the expected
content (the engine's replay-to-parity invariant). The aggregate view
must equal the aggregate over that expected state. Each check returns a
list of problems; empty means correct.
"""

from __future__ import annotations

import os

from inputs import parquet_files


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _expected_sql(src_files, log_files, upto: int) -> str:
    return f"""
    WITH allev AS (
      SELECT -1::BIGINT AS "offset", 'r' AS op, repo, path,
             "commit" AS c_commit, lang AS c_lang, content AS c_content
      FROM read_parquet({src_files!r})
      UNION ALL
      SELECT "offset", op, repo, path,
             after."commit", after.lang, after.content
      FROM read_parquet({log_files!r}) WHERE "offset" <= {int(upto)}
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY repo, path ORDER BY "offset" DESC, op DESC) AS rn
      FROM allev
    )
    SELECT repo, path, c_commit AS "commit", c_lang AS lang, c_content AS content,
           lower(sha256(c_content)) AS content_sha256
    FROM ranked WHERE rn = 1 AND op NOT IN ('d', 't')
    """


def table_files(table) -> list[str]:
    m = table.manifest()
    return sorted(
        os.path.join(table.path, fi["path"]) for fs in m["buckets"].values() for fi in fs
    )


def check_table(table, src_dir: str, log_files: list[str], upto: int) -> list[str]:
    """Final state of ``table`` vs the LWW oracle over events ≤ ``upto``."""
    con = connect()
    try:
        con.execute(
            "CREATE TEMP VIEW exp AS " + _expected_sql(parquet_files(src_dir), log_files, upto)
        )
        files = table_files(table)
        if files:
            con.execute(
                "CREATE TEMP VIEW act AS SELECT repo, path, \"commit\", lang, "
                f"content, content_sha256 FROM read_parquet({files!r})"
            )
        else:
            con.execute("CREATE TEMP VIEW act AS SELECT * FROM exp WHERE false")
        n_exp, n_act, n_keys = con.execute(
            "SELECT (SELECT count(*) FROM exp), (SELECT count(*) FROM act), "
            "(SELECT count(DISTINCT (repo, path)) FROM act)"
        ).fetchone()
        bad = con.execute(
            """
            SELECT count(*) FROM exp FULL OUTER JOIN act USING (repo, path)
            WHERE exp.repo IS NULL OR act.repo IS NULL
               OR exp."commit" IS DISTINCT FROM act."commit"
               OR exp.lang IS DISTINCT FROM act.lang
               OR exp.content_sha256 IS DISTINCT FROM act.content_sha256
               OR act.content_sha256 IS DISTINCT FROM lower(sha256(act.content))
            """
        ).fetchone()[0]
    finally:
        con.close()
    problems = []
    if n_keys != n_act:
        problems.append(f"table: {n_act - n_keys} duplicate keys")
    if bad:
        problems.append(f"table: {bad} rows differ from the oracle ({n_exp} expected, {n_act} found)")
    return problems


def check_view(view_rows, src_dir: str, log_files: list[str], upto: int) -> list[str]:
    """The maintained (repo, lang) view vs count/min/max over the oracle state."""
    import pandas as pd

    con = connect()
    try:
        con.execute(
            "CREATE TEMP VIEW exp AS " + _expected_sql(parquet_files(src_dir), log_files, upto)
        )
        got = pd.DataFrame(view_rows, columns=["repo", "lang", "n_rows", "min_commit", "max_commit"])
        con.register("got", got)
        diff = con.execute(
            """
            WITH want AS (
              SELECT repo, lang, count(*)::BIGINT AS n_rows,
                     min("commit") AS min_commit, max("commit") AS max_commit
              FROM exp GROUP BY repo, lang
            ), g AS (
              SELECT repo, lang, n_rows::BIGINT AS n_rows, min_commit, max_commit FROM got
            )
            SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM g)),
                   (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM want))
            """
        ).fetchone()
    finally:
        con.close()
    if diff[0] or diff[1]:
        return [f"view: {diff[0]} groups missing or wrong, {diff[1]} unexpected"]
    return []
