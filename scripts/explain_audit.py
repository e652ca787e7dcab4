"""Physical-plan audit: print `.explain(formatted)` for the engine's hot
paths and assert the plan properties the 100 TB design depends on:

* the changelog offset-range predicate reaches the parquet scan
  (PushedFilters) and the scan reads only needed columns (ReadSchema);
* the broadcast-anti merge path broadcasts the batch keys (no shuffle of
  the target side) as a bare key projection, and its write evaluates the
  unwrap UDF exactly once;
* the LWW hash aggregate runs as partial + final (map-side combine);
* a view refresh after a one-bucket commit scans only that bucket's
  files, with no join and one aggregate exchange;
* the orchestrator's per-trigger stats collect over 16 tables is one
  partial/final hash aggregate, JVM-only, with every generated method
  under the huge-method limit;
* expressions stay inside WholeStageCodegen spans.

Writes PLANS.md with the annotated plans. Exits nonzero if an assertion
fails — wire into CI-style checks per round.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debezium_incubator_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    from pyspark.sql import functions as F

    from debezium_incubator_spark.operators.dedup import lww_latest
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.changelog import ParquetChangelog
    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table

    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    base = "/tmp/explain_audit"
    shutil.rmtree(base, ignore_errors=True)
    src = gen_source_table(spark, n_keys=500, n_repos=10)
    gen_changelog(spark, n_keys=500, n_repos=10, n_slots=2000).write.parquet(f"{base}/log")

    eng = CDCEngine(spark, f"{base}/t", f"{base}/c", num_buckets=8)
    eng.create_target()
    eng.bootstrap(src)

    sections: list[tuple[str, str, list[tuple[str, str]]]] = []
    failures: list[str] = []

    # 1. offset-range scan pruning
    cl = ParquetChangelog(f"{base}/log")
    scan = cl.range(spark, 1000, 3000).select("offset", "op", "repo", "path")
    p1 = plan_of(scan)
    sections.append((
        "Changelog offset-range scan",
        p1,
        [
            ("offset predicate pushed to parquet",
             r"PushedFilters: \[.*GreaterThan\(offset", ),
            ("column-pruned read schema (no before/after/source)",
             r"ReadSchema: [^\n]*offset[^\n]*\n(?![^\n]*source)", ),
        ],
    ))

    # 2. the apply-epoch plans, built the way merge_upsert builds its
    # broadcast-anti path: the guarded batch's own keys ride the
    # broadcast, and the LWW (with the unwrap UDF) runs once, in the write
    ck = eng.store.latest()
    batch = cl.range(spark, -1, 10**9)
    flat = eng._unwrap(eng._guarded_pre(batch, ck))
    keys = ["repo", "path"]
    payload = [f["name"] for f in eng.table.current_fields() if f["name"] not in keys]
    out_cols = [*keys, *payload, "_bucket"]
    latest = lww_latest(
        flat, keys, ["offset", "op"], [c for c in flat.columns if c not in keys]
    )
    current = eng.table.with_bucket(eng.table.read(spark))
    survivors = current.join(F.broadcast(flat.select(*keys)), keys, "left_anti")
    p2 = plan_of(survivors)
    sections.append((
        "Merge broadcast-anti path (target side never shuffles)",
        p2,
        [
            ("anti join uses broadcast", r"BroadcastHashJoin .*LeftAnti|BroadcastNestedLoop"),
            ("no exchange on the target scan side before the join",
             r"BroadcastHashJoin", ),
            ("broadcast side is a bare key projection (no UDF, no cache)",
             r"^(?:(?!ArrowEvalPython|InMemoryRelation)(.|\n))*$"),
        ],
    ))
    upserts = latest.filter(~F.col("op").isin("d", "t"))
    write = survivors.select(*out_cols).unionByName(upserts.select(*out_cols))
    p2w = plan_of(write)
    n_udf = len(set(re.findall(r"\((\d+)\) ArrowEvalPython", p2w)))
    sections.append((
        "Merge broadcast-anti write plan (unwrap UDF evaluated once)",
        p2w,
        [("normalize_content UDF in the plan", r"ArrowEvalPython")],
    ))
    if n_udf != 1:
        failures.append(f"merge write plan: {n_udf} ArrowEvalPython operators (expected 1)")

    # 3. LWW hash aggregate: partial + final
    p3 = plan_of(latest)
    sections.append((
        "LWW max_by aggregate (map-side partial combine)",
        p3,
        [
            # max_by carries a struct buffer → Catalyst plans SortAggregate
            # (HashAggregate needs mutable primitive buffers). The property
            # that matters for skew is partial aggregation before the
            # exchange — a hot key still reduces map-side.
            ("partial (map-side) aggregate before the exchange",
             r"partial_max_by|SortAggregate(.|\n)*Exchange(.|\n)*SortAggregate"),
        ],
    ))

    # 4. MinHash signature pipeline: every shingle string hashed ONCE,
    # permutations are long-rehashes, aggregation partial+final
    from debezium_incubator_spark.functions.dedup_text import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"some text body {i} with words") for i in range(10)],
        "doc_id long, text string",
    )
    p4 = plan_of(minhash_signatures(docs))
    n_string_hashes = len(re.findall(r"xxhash64\(lambda", p4))
    sections.append((
        "MinHash signatures (hash-once + 64 long-rehash permutations)",
        p4,
        [
            ("shingle string hashed exactly once (permutations rehash the long)",
             r"partial_min\(xxhash64\(__h"),
            ("map-side partial aggregation before the exchange",
             r"partial_min(.|\n)*Exchange"),
        ],
    ))
    if n_string_hashes > 2:
        failures.append(f"minhash: {n_string_hashes} string-hash sites in plan (expected ≤2)")

    # 5. n-gram Jaccard inverted index: equality join on the shingle —
    # never a cartesian / nested-loop product
    from debezium_incubator_spark.functions.dedup_text import ngram_jaccard_pairs

    # eager_cleanup=False keeps the full lazy plan visible for the audit
    # (the default materializes the result and unpersists the index)
    p5 = plan_of(ngram_jaccard_pairs(docs, threshold=0.5, eager_cleanup=False))
    sections.append((
        "n-gram Jaccard inverted-index self-join (no cartesian)",
        p5,
        [
            ("no cartesian/nested-loop product anywhere in the plan",
             r"^(?:(?!CartesianProduct|BroadcastNestedLoop)(.|\n))*$"),
        ],
    ))

    # 6. incremental dedup: the add path's edge generation — the
    # delta probes the STORED index (a bare parquet scan, never a
    # re-derivation of old shingles) through equality joins on the
    # shingle hash; no cartesian anywhere
    from debezium_incubator_spark.functions.dedup_incremental import (
        IncrementalDedupIndex,
    )

    ix = IncrementalDedupIndex(spark, f"{base}/ix", min_overlap=2)
    ix.build(docs)
    delta = spark.createDataFrame(
        [(100 + i, f"some text body {i} with words") for i in range(5)],
        "doc_id long, text string",
    )
    inv_d, sizes_d, _sh = ix._delta_state(delta)
    man = ix._manifest()
    pr = ix._pair_rows(inv_d, ix._read(man["inv"]), self_join=False).unionByName(
        ix._pair_rows(inv_d, inv_d, self_join=True)
    )
    p6 = plan_of(ix._edges(pr, sizes_d))
    sections.append((
        "Incremental dedup add: delta-vs-stored edge generation",
        p6,
        [
            ("no cartesian/nested-loop product anywhere in the plan",
             r"^(?:(?!CartesianProduct|BroadcastNestedLoop)(.|\n))*$"),
            ("stored index side is a bare parquet scan (no re-shingling)",
             r"Scan parquet"),
        ],
    ))

    # 7. durable IVF index: search reads ONLY probed list partitions —
    # the scan must carry a static cid IN (...) partition filter
    from debezium_incubator_spark.functions.ann_index import IVFIndex

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    ivx = IVFIndex(spark, f"{base}/ivf", init="hash_sample", n_centroids=8)
    ivx.build(emb.filter(F.col("vec_id") < 40))
    ivx.add(emb.filter(F.col("vec_id") >= 40))
    p7 = plan_of(ivx.search(emb.filter(F.col("vec_id") < 3), k=3, n_probe=2))
    sections.append((
        "Durable IVF index search (partition-pruned list read)",
        p7,
        [
            ("probed-cid set pushed as a static partition filter",
             r"PartitionFilters: \[cid#\d+ IN \("),
            ("no cartesian on the list join (centroids ride a broadcast row)",
             r"^(?:(?!CartesianProduct)(.|\n))*$"),
        ],
    ))

    # 7b. the same search after compact(): ONE batch dir, zero
    # tombstone anti-joins, pruning intact — the post-maintenance shape
    ivx.remove(emb.filter(F.col("vec_id") % 9 == 0).select("vec_id"))
    ivx.compact()
    p7b = plan_of(ivx.search(emb.filter(F.col("vec_id") < 3), k=3, n_probe=2))
    sections.append((
        "Durable IVF index search after compact()",
        p7b,
        [
            ("probed-cid set still a static partition filter",
             r"PartitionFilters: \[cid#\d+ IN \("),
            ("tombstone anti-joins are gone (compaction applied them)",
             r"^(?:(?!LeftAnti)(.|\n))*$"),
        ],
    ))

    # 8. feature-hashed n-gram embedding: a pure projection — the
    # encoder must ride the scan with NO shuffle and NO Python worker
    from debezium_incubator_spark.functions.text import with_hashed_ngram_embedding

    p8 = plan_of(with_hashed_ngram_embedding(docs, dim=16))
    sections.append((
        "Feature-hashed embedding (shuffle-free, JVM-only projection)",
        p8,
        [
            ("no exchange anywhere", r"^(?:(?!Exchange)(.|\n))*$"),
            ("no Python/Arrow eval (stays in codegen)",
             r"^(?:(?!BatchEvalPython|ArrowEvalPython)(.|\n))*$"),
        ],
    ))

    # 9. change-data-feed step: a commit touching ONE bucket of 8 must
    # read exactly that bucket's files at BOTH versions (manifest-level
    # pruning — at 100 TB the untouched 99% is never even listed) and
    # classify via a keyed full-outer join, never a cartesian
    from pyspark.sql import types as T

    from debezium_incubator_spark.lake.cdf import step_changes
    from debezium_incubator_spark.lake.table import LakeTable

    cdf_schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    ct = LakeTable.create(
        f"{base}/cdf_t", cdf_schema, bucket_cols=["repo", "path"], num_buckets=8
    )
    crows = spark.createDataFrame(
        [(f"r{i}", f"p{i}", i) for i in range(80)], cdf_schema
    )
    ct.commit(ct.with_bucket(crows), replace_buckets=range(8), summary={})
    cb0 = ct.read(spark, buckets=[0]).withColumn("v", F.col("v") + 1)
    ct.commit(ct.with_bucket(cb0), replace_buckets=[0], summary={})
    p9 = plan_of(step_changes(ct, spark, 2, ["repo", "path"]))
    sections.append((
        "Change-data-feed step (bucket-diff-pruned two-version read)",
        p9,
        [
            ("scans list only the changed bucket's files",
             r"InMemoryFileIndex \[file:[^\]]*_bucket=0[^\]]*\]"),
            ("no other bucket's files are listed anywhere",
             r"^(?:(?!_bucket=[1-7])(.|\n))*$"),
            ("classification is a keyed full-outer join, no cartesian",
             r"Join type: FullOuter"),
            ("no cartesian product",
             r"^(?:(?!CartesianProduct)(.|\n))*$"),
        ],
    ))

    # 10. incremental view fold: union-reaggregate, NOT a join — one
    # partial-aggregated exchange of ~|view|+|batch| rows, skew-proof;
    # (a broadcast full-outer join is impossible in Spark, so a
    # join-based fold silently shuffles the view through SMJ).
    # agg_view_apply materializes this fold, so plan the lazy one
    from debezium_incubator_spark.operators.aggregates import _fold, agg_view

    vst = spark.createDataFrame(
        [(i, f"g{i % 5}", i * 10) for i in range(50)], "k int, g string, cents long"
    )
    aview = agg_view(vst, ["g"], ["cents"], ["cents"]).localCheckpoint()
    vins = spark.createDataFrame([(99, "g1", 7)], "k int, g string, cents long")
    vret = spark.createDataFrame([], "k int, g string, cents long")
    p10 = plan_of(_fold(aview, vins, vret, ["g"], ["cents"], ["cents"]))
    sections.append((
        "Incremental view fold (join-free union-reaggregate)",
        p10,
        [
            ("no join anywhere in the fold", r"^(?:(?!Join)(.|\n))*$"),
            ("partial-then-final hash aggregate (map-side combine)",
             r"HashAggregate(?:(.|\n))*Exchange(?:(.|\n))*HashAggregate"),
        ],
    ))

    # 10b. view refresh: a commit touching ONE bucket of 8 re-aggregates
    # that bucket alone, read once at the pinned version, and unions the
    # other buckets' stored partials — no change-feed join, one
    # aggregate exchange, no other bucket's table files listed
    from debezium_incubator_spark.operators.views import MaterializedAggView

    rt = LakeTable.create(
        f"{base}/view_t", cdf_schema, bucket_cols=["repo", "path"], num_buckets=8
    )
    rt.commit(rt.with_bucket(crows), replace_buckets=range(8), summary={})
    mview = MaterializedAggView(
        spark, f"{base}/view", f"{base}/view_t", group_cols=["repo"], measure_cols=["v"],
        extreme_cols=["v"],
    )
    mview.build()
    rb0 = rt.read(spark, buckets=[0]).withColumn("v", F.col("v") + 1)
    rt.commit(rt.with_bucket(rb0), replace_buckets=[0], summary={})
    refresh_df, _ = mview._next_state(mview.meta(), mview._pin())
    p10b = plan_of(refresh_df)
    sections.append((
        "View refresh (changed buckets re-aggregated, stored partials kept)",
        p10b,
        [
            ("no join anywhere (no change-feed diff)", r"^(?:(?!Join)(.|\n))*$"),
            ("table scan lists only the changed bucket's files",
             r"InMemoryFileIndex \[file:[^\]]*view_t/data/[^\]]*_bucket=0[^\]]*\]"),
            ("no other bucket's files are listed anywhere",
             r"^(?:(?!_bucket=[1-7])(.|\n))*$"),
        ],
    ))
    n_exch = len(set(re.findall(r"\((\d+)\) Exchange", p10b)))
    if n_exch != 1:
        failures.append(f"view refresh plan: {n_exch} Exchange (expected 1)")

    # 11. the orchestrator's ONE stats collect per trigger: 16 tables,
    # each resuming with its own replay-guard marks, all looked up in
    # one literal map. The per-table columns feed one partial/final
    # hash aggregate — JVM-only, inside WholeStageCodegen, and every
    # generated method under the huge-method limit (past it Spark
    # silently drops the stage out of codegen at run time)
    from debezium_incubator_spark.operators import merge
    from debezium_incubator_spark.plans.orchestrator import MultiTableCDC

    orch = MultiTableCDC(spark, f"{base}/orch", num_buckets=8)
    ckpts = {}
    for i in range(16):
        name = f"files_{i:02d}"
        ckpts[name] = dict(
            orch.create_table(name).store.latest(),
            phase="stream",
            max_offsets={str(b): 100 * i + b for b in range(8)},
        )
    frames = []
    real = merge.batch_stats_rows
    merge.batch_stats_rows = lambda *a, **k: frames.append(merge.batch_stats_frame(*a, **k)) or []
    try:
        orch._batch_stats(cl.range(spark, -1, 10**9), ckpts, "source.table")
    finally:
        merge.batch_stats_rows = real
    # planned without AQE so the plan carries its codegen stages
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        stats_df = frames[0].select("*")
        p11 = plan_of(stats_df)
        stages = stats_df._jdf.queryExecution().debug().codegenToSeq()
        sizes = [int(stages.apply(i)._3().maxMethodCodeSize()) for i in range(stages.size())]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sections.append((
        "Orchestrator stats collect (16 tables, one grouped aggregate)",
        p11,
        [
            ("per-table columns projected inside WholeStageCodegen", r"\* Project"),
            ("replay-guard marks folded into a literal map (no JSON parse per row)",
             r"^(?:(?!from_json)(.|\n))*$"),
            ("partial-then-final hash aggregate, both codegen'd",
             r"\* HashAggregate(.|\n)*Exchange(.|\n)*\* HashAggregate"),
            ("no Python UDF", r"^(?:(?!ArrowEvalPython|BatchEvalPython|PythonUDF)(.|\n))*$"),
        ],
    ))
    n_agg = len(set(re.findall(r"\((\d+)\) HashAggregate", p11)))
    n_exch = len(set(re.findall(r"\((\d+)\) Exchange", p11)))
    if (n_agg, n_exch) != (2, 1):
        failures.append(f"orchestrator stats plan: {n_agg} HashAggregate, {n_exch} Exchange (expected 2, 1)")
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    print(f"orchestrator stats codegen: max method bytes per stage {sizes}, limit {limit}")
    if not sizes or max(sizes) > limit:
        failures.append(f"orchestrator stats codegen: method sizes {sizes} vs limit {limit}")

    out = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)\n"]
    for title, plan, checks in sections:
        out.append(f"\n## {title}\n")
        for desc, pat in checks:
            ok = re.search(pat, plan) is not None
            mark = "✅" if ok else "❌"
            out.append(f"- {mark} {desc}\n")
            if not ok:
                failures.append(f"{title}: {desc}")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.writelines(out)
    print("failures:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
