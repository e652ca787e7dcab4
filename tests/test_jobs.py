"""spark-submit job entry points, driven as real subprocesses (the
--py-files deployment shape minus the cluster): multi-table job with a
DDL file, resumable re-run, and the single-table batch job."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DDL = (
    'CREATE TABLE repos."files_02" ("repo" varchar2(100), "path" varchar2(500), '
    '"commit" varchar2(40), "lang" varchar2(10), "content" clob, '
    'PRIMARY KEY ("repo","path"));'
)


def _run(args):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, *args], capture_output=True, text=True, timeout=420, env=env
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


@pytest.fixture(scope="module")
def job_fixtures(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("jobdata")
    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table

    gen_source_table(spark, n_keys=60, n_repos=4, n_tables=2).write.mode(
        "overwrite"
    ).parquet(str(d / "source"))
    gen_changelog(spark, n_keys=60, n_repos=4, n_slots=150, n_tables=2).write.mode(
        "overwrite"
    ).parquet(str(d / "changelog"))
    (d / "ddl.sql").write_text(DDL)
    return d


def test_multi_apply_job_end_to_end_and_resumable(job_fixtures, tmp_path):
    d = job_fixtures
    root = str(tmp_path / "root")
    args = [
        f"{REPO}/jobs/multi_apply_job.py",
        "--root", root,
        "--changelog", str(d / "changelog"),
        "--source", str(d / "source"),
        "--tables", "files_00,files_01",
        "--ddl-file", str(d / "ddl.sql"),
        "--num-buckets", "4",
        "--offsets-per-epoch", "2000",
    ]
    m1 = _run(args)
    assert set(m1) == {"files_00", "files_01", "files_02"}
    assert m1["files_00"]["counters"]["events_in"] > 0
    assert m1["files_01"]["counters"]["events_in"] > 0
    # files_02 was DDL-provisioned; generator routes no events to it →
    # it heartbeats (registered, stream phase, empty)
    assert m1["files_02"]["phase"] == "stream"
    # re-run: registry reconstructs everything, apply is a no-op
    m2 = _run(args)
    for name in ("files_00", "files_01"):
        assert m2[name]["table_version"] == m1[name]["table_version"]
        assert m2[name]["counters"] == m1[name]["counters"]


def test_apply_job_batch_mode(job_fixtures, tmp_path):
    d = job_fixtures
    m = _run(
        [
            f"{REPO}/jobs/apply_job.py",
            "--table", str(tmp_path / "t"),
            "--checkpoint", str(tmp_path / "c"),
            "--changelog", str(d / "changelog"),
            "--source", str(d / "source"),
            "--mode", "batch",
            "--num-buckets", "4",
            "--offsets-per-epoch", "2000",
        ]
    )
    assert m["phase"] == "stream" and m["counters"]["events_in"] > 0


def test_dedup_index_job_consumes_changelog_and_resumes(spark, job_fixtures, tmp_path):
    """The training-data consumer: maintain a dedup index from the CDC
    changelog via spark-submit-shaped subprocess. Run 1 indexes the
    feed (LWW per key per epoch, c/u/d through apply_changes); run 2 is
    a no-op (stream_pos rides the manifest — commit-THEN-checkpoint)."""
    d = job_fixtures
    args = [
        f"{REPO}/jobs/dedup_index_job.py",
        "--index", str(tmp_path / "ix"),
        "--changelog", str(d / "changelog"),
        "--table", "files_00",
        "--min-overlap", "3",
        "--offsets-per-epoch", "500",
    ]
    s1 = _run(args)
    assert s1["docs"] > 0 and s1["clusters"] > 0
    assert s1["epochs_applied"] >= 1
    assert s1["clusters"] <= s1["docs"]
    s2 = _run(args)
    assert s2["epochs_applied"] == 0  # fully caught up → no-op
    assert s2["version"] == s1["version"]
    assert s2["docs"] == s1["docs"] and s2["clusters"] == s1["clusters"]

    # run 3: late events land past an offset gap WIDER than one epoch
    # (10 empty slices at 500/epoch). The consumer must walk through the
    # gap to the footer max, not end the run at the first empty slice.
    import shutil

    from pyspark.sql import functions as F

    cl2 = str(tmp_path / "changelog2")
    shutil.copytree(str(d / "changelog"), cl2)
    late = (
        spark.read.parquet(str(d / "changelog"))
        .filter(F.col("source.table") == "files_00")
        .orderBy("offset")
        .limit(5)
        .withColumn("offset", F.col("offset") + F.lit(5000))
    )
    late.coalesce(1).write.mode("append").parquet(cl2)
    s3 = _run([a if a != str(d / "changelog") else cl2 for a in args])
    assert s3["epochs_applied"] >= 1  # the gap was crossed
    assert s3["stream_pos"] > s1["stream_pos"]
    assert s3["version"] > s2["version"]


def test_spark_submit_py_files_deployment(job_fixtures, tmp_path):
    """North-rule deployment clause, run for real: the engine package
    ships as a zip via ``spark-submit --py-files`` — no PYTHONPATH, no
    repo dir on sys.path; every engine import must resolve from the
    zip alone (the exact shape of a 1000-executor submit, minus the
    cluster manager)."""
    import shutil
    import zipfile

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = str(tmp_path / "engine.zip")
    pkg = os.path.join(REPO, "debezium_incubator_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    d = job_fixtures
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            f"{REPO}/jobs/apply_job.py",
            "--table", str(tmp_path / "t"),
            "--checkpoint", str(tmp_path / "c"),
            "--changelog", str(d / "changelog"),
            "--source", str(d / "source"),
            "--mode", "batch",
            "--num-buckets", "4",
            "--offsets-per-epoch", "2000",
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    m = json.loads(lines[-1])
    assert m["phase"] == "stream" and m["counters"]["events_in"] > 0


def test_split_ddl_script_drop_table_lookahead():
    """ADVICE r3: a line-initial DROP TABLE without a preceding ';' must
    open its own statement (it is unambiguous — no ALTER clause starts
    with DROP TABLE), while a multi-line ALTER ... DROP (cols) stays one
    statement."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from multi_apply_job import split_ddl_script

    text = (
        'CREATE TABLE t1 ("a" number, PRIMARY KEY ("a"))\n'
        "DROP TABLE t2\n"
        "ALTER TABLE t3\n  DROP (b, c)\n"
        "DROP TABLE t4;"
    )
    stmts = split_ddl_script(text)
    assert len(stmts) == 4
    assert stmts[1].startswith("DROP TABLE t2")
    assert "DROP (b, c)" in stmts[2] and stmts[2].startswith("ALTER TABLE t3")
    assert stmts[3].startswith("DROP TABLE t4")


def test_split_ddl_script_quote_aware():
    """ADVICE r4: ';' and line-initial keywords INSIDE single-quoted
    literals must not split the statement (the warn-and-skip apply path
    would silently drop both halves); '' is an escaped quote, not a
    close."""
    from debezium_incubator_spark.sources.ddl import split_ddl_script

    text = (
        "ALTER TABLE t1 ADD (note varchar2(64) DEFAULT 'a;b')\n"
        "ALTER TABLE t2 ADD (hint varchar2(64) DEFAULT 'line1\nCREATE fake')\n"
        "ALTER TABLE t3 ADD (q varchar2(8) DEFAULT 'it''s;ok');\n"
        "DROP TABLE t4;"
    )
    stmts = split_ddl_script(text)
    assert len(stmts) == 4
    assert "'a;b'" in stmts[0]
    assert "CREATE fake" in stmts[1] and stmts[1].startswith("ALTER TABLE t2")
    assert "it''s;ok" in stmts[2]
    assert stmts[3].startswith("DROP TABLE t4")


def test_split_ddl_script_comment_apostrophe():
    """Review r5 #5: an apostrophe inside a -- comment is prose, not a
    literal delimiter — it must not flip the quote state and glue every
    following statement into one silently-dropped blob. Comments are
    stripped (a pure-comment line never surfaces as a bogus statement)."""
    from debezium_incubator_spark.sources.ddl import split_ddl_script

    text = (
        "-- don't touch this file\n"
        'CREATE TABLE t1 ("a" number, PRIMARY KEY ("a"));\n'
        "ALTER TABLE t2 ADD (b number); -- trailing: it's fine\n"
        "DROP TABLE t3;"
    )
    stmts = split_ddl_script(text)
    assert len(stmts) == 3
    assert stmts[0].startswith("CREATE TABLE t1")
    assert stmts[1].startswith("ALTER TABLE t2") and "it's" not in stmts[1]
    assert stmts[2].startswith("DROP TABLE t3")


def test_multi_apply_job_stream_mode_with_ddl_dir(job_fixtures, tmp_path):
    """--mode stream attaches via StreamingMultiTableCDC (availableNow
    drain) and --ddl-dir opens the mid-stream DDL channel: a pre-seeded
    .sql provisions files_02 during the drain and records itself in
    _ddl_applied.json."""
    d = job_fixtures
    root = str(tmp_path / "mstream")
    ddl_dir = tmp_path / "ddlctrl"
    ddl_dir.mkdir()
    (ddl_dir / "001.sql").write_text(DDL)
    m = _run(
        [
            f"{REPO}/jobs/multi_apply_job.py",
            "--root", root,
            "--changelog", str(d / "changelog"),
            "--source", str(d / "source"),
            "--tables", "files_00,files_01",
            "--num-buckets", "4",
            "--mode", "stream",
            "--ddl-dir", str(ddl_dir),
        ]
    )
    assert set(m) == {"files_00", "files_01", "files_02"}
    assert m["files_00"]["counters"]["events_in"] > 0
    assert m["files_01"]["counters"]["events_in"] > 0
    assert m["files_02"]["phase"] == "stream"
    with open(os.path.join(root, "_ddl_applied.json")) as f:
        assert json.load(f) == ["001.sql"]


def test_ann_index_job_consumes_changelog_compacts_and_resumes(
    spark, job_fixtures, tmp_path
):
    """The embedding-side consumer: maintain an IVF ANN index from the
    CDC changelog (deterministic feature-hashed embeddings) via a
    spark-submit-shaped subprocess. Run 1 bootstraps centroids from the
    first epoch and appends the rest; run 2 is a no-op; run 3 with
    --compact folds the batch/tombstone chains and the index still
    answers searches."""
    from pyspark.sql import functions as F

    from debezium_incubator_spark.functions.ann_index import IVFIndex

    d = job_fixtures
    ix = str(tmp_path / "ix")
    args = [
        f"{REPO}/jobs/ann_index_job.py",
        "--index", ix,
        "--changelog", str(d / "changelog"),
        "--table", "files_00",
        "--dim", "32",
        "--offsets-per-epoch", "300",
    ]
    s1 = _run(args)
    assert s1["indexed"] > 0 and s1["epochs_applied"] >= 2
    s2 = _run(args)
    assert s2["epochs_applied"] == 0 and s2["indexed"] == s1["indexed"]

    s3 = _run(args + ["--compact"])
    assert s3["epochs_applied"] == 0 and s3["indexed"] == s1["indexed"]
    idx = IVFIndex(spark, ix)
    m = idx.meta()
    assert len(m["lists"]) == 1 and m["tombstones"] == []
    # the index answers: a stored vector as query finds its own id
    probe = idx.vectors().limit(1).collect()[0]
    q = spark.createDataFrame(
        [(-1, probe["c_vec"])], "vec_id long, embedding array<double>"
    )
    top = idx.search(q, k=1, n_probe=16).first()
    assert top is not None and top["sim"] >= 0.9999

    # run 4: --retrain rotates the centroid generation in place —
    # indexed mass unchanged, manifest points at a versioned centroid dir
    s4 = _run(args + ["--retrain"])
    assert s4["epochs_applied"] == 0 and s4["indexed"] == s1["indexed"]
    m4 = IVFIndex(spark, ix).meta()
    assert m4["centroids"].startswith("centroids_v")


def test_view_maintain_job_builds_and_refreshes(spark, tmp_path):
    """The dashboard consumer: maintain a durable aggregate view of
    the lake table via the job entry point. Run 1 builds,
    run 2 is a caught-up no-op, run 3 folds two new versions and lands
    on the rebuild fixpoint (count + min/max over an all-string CDC
    table — the count-only --measure-cols shape)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tests.helpers import commit_full_state, mk_lake_table

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    tdir = str(tmp_path / "table")
    rows = [(f"r{i % 3}", f"p{i}", ["py", "go", "rs"][i % 3]) for i in range(24)]
    t = mk_lake_table(spark, tdir, rows, schema)

    def commit_state(rows):
        commit_full_state(spark, t, rows, schema)

    args = [
        f"{REPO}/jobs/view_maintain_job.py",
        "--table", tdir,
        "--view", str(tmp_path / "view"),
        "--group-cols", "repo",
        "--extreme-cols", "lang",
        "--expire-keep", "2",
    ]
    s1 = _run(args)
    assert s1["action"] == "build" and s1["groups"] == 3

    s2 = _run(args)
    assert s2["action"] == "refresh" and s2["folded_versions"] == 0
    assert s2["version"] == s1["version"]  # caught up → no commit

    # two more table versions: one group emptied, one added
    rows2 = [r for r in rows if r[0] != "r2"] + [("r9", "x", "zig")]
    commit_state(rows2)
    commit_state(rows2 + [("r9", "y", "ada")])
    s3 = _run(args)
    assert s3["action"] == "refresh" and s3["folded_versions"] == 2

    # the state dir holds per-bucket partials; read() re-aggregates them
    from debezium_incubator_spark.operators.views import MaterializedAggView

    mv = MaterializedAggView(
        spark, str(tmp_path / "view"), tdir, group_cols=["repo"], measure_cols=[],
        extreme_cols=["lang"],
    )
    got = {
        r["repo"]: (r["n_rows"], r["min_lang"], r["max_lang"])
        for r in mv.read(as_of=s3["version"]).collect()
    }
    exp = {
        r["repo"]: (r["n"], r["mn"], r["mx"])
        for r in t.read(spark)
        .groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lang").alias("mn"),
            F.max("lang").alias("mx"),
        )
        .collect()
    }
    assert got == exp and "r2" not in got

    # --follow on a FRESH view dir must build AND enter the tail loop
    # (not exit after the build); --max-refreshes bounds it for the test
    s4 = _run(
        [
            f"{REPO}/jobs/view_maintain_job.py",
            "--table", tdir,
            "--view", str(tmp_path / "view_follow"),
            "--group-cols", "repo",
            "--follow", "--max-refreshes", "1", "--poll-interval", "0.2",
        ]
    )
    assert s4["action"] == "build+follow"
    assert s4["refreshes"] == 1
