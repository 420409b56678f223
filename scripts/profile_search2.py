#!/usr/bin/env python
"""Phase-level profile of the r7 zero-exchange search path (guide §1).

Times each driver-side phase of the bench query lifecycle against the
CURRENT search() internals (file-plan kernel), plus a cProfile of the
warm serving loop.  NOT a benchmark — a diagnosis tool.
"""
from __future__ import annotations

import json
import os
import shutil
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder
             .master(f"local[{CPUS}]")
             .appName("profile_search2")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators import search as S
    from pim_lucene_spark.sparkutil import local_result

    docs = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .withColumnRenamed("text", "content"))
    index_dir = f"/tmp/pim_prof2_{os.getpid()}"
    shutil.rmtree(index_dir, ignore_errors=True)
    cfg = IndexConfig(num_partitions=max(CPUS, 8), num_segments=4,
                      build_chunks=1)
    t0 = time.time()
    manifest = build_index(spark, docs, index_dir, cfg,
                           content_col="content", id_col="doc_id",
                           source=SF_DIR)
    print(f"build {time.time()-t0:.2f}s "
          f"phases={manifest.metrics['phase_seconds']}")

    S.search(spark, manifest, [(0, "the")], k=10).count()  # warm

    QUERIES = {
        "q_term_hot": "the",
        "q_phrase2": "the fast",
        "q_phrase4": "table scan merge part",
        "q_batch20": [(i, q) for i, q in enumerate([
            "the fast", "key order", "sort table", "scan merge",
            "part window", "small hash", "join order", "batch batch",
            "stream spark", "window dup", "merge", "vector",
            "customer line", "group query row", "data slow",
            "filter customer", "value merge", "agg line", "big merge",
            "spark table"])],
    }

    for name, text in QUERIES.items():
        for rep in range(2):
            queries = [(0, text)] if isinstance(text, str) else text
            k, precision = 10, "float32"
            t = {}
            tt = time.time()
            payload, needed_terms = S._plain_payload(
                spark, manifest, queries, k, precision)
            t["plan"] = time.time() - tt
            if payload is None:
                print(name, rep, "no match: nothing to launch")
                continue
            tt = time.time()
            dfs = S.term_doc_freqs(spark, manifest, list(needed_terms))
            n_tasks = S._kernel_task_count(manifest.num_partitions,
                                           sum(dfs.values()))
            groups = S._pid_file_groups({"": manifest}, n_tasks)
            t["file_plan"] = time.time() - tt
            if groups is None:
                # uninspectable layout: search() takes the exchange plan,
                # which this per-phase profile does not cover
                print(name, rep, "no file plan: exchange route, skipped")
                continue
            xp = S._exec_payload(payload, [], {"": needed_terms})
            tt = time.time()
            per_part = (spark.range(0, len(groups), 1, len(groups))
                        .mapInPandas(S._owned_kernel(xp, groups, "plain"),
                                     S.RESULT_SCHEMA))
            t["plan_df"] = time.time() - tt
            tt = time.time()
            pdf = per_part.toPandas()
            t["job_toPandas"] = time.time() - tt
            tt = time.time()
            pdf = S._top_k(pdf, k)
            sdf = local_result(spark, pdf, S.RESULT_SCHEMA)
            sdf.collect()
            t["merge_collect"] = time.time() - tt
            print(name, rep, len(pdf),
                  json.dumps({kk: round(v, 4) for kk, v in t.items()}))

    # ---- serving profile --------------------------------------------------
    S.search_local(manifest, [(0, "the")], k=10)  # warm
    bench_q = [("the",), ("vector",), ("the fast",),
               ("batch batch batch",), ("table scan merge part",),
               ("merge zzzznotfound",)]
    t = time.time()
    for _ in range(20):
        for (q,) in bench_q:
            S.search_local(manifest, [(0, q)], k=10)
    warm_ms = (time.time() - t) / (20 * len(bench_q)) * 1000
    print(f"serving warm {warm_ms:.2f} ms/query")

    import cProfile
    import pstats

    pr = cProfile.Profile()
    pr.enable()
    for _ in range(20):
        for (q,) in bench_q:
            S.search_local(manifest, [(0, q)], k=10)
    pr.disable()
    stats = pstats.Stats(pr)
    stats.sort_stats("cumulative").print_stats(25)

    shutil.rmtree(index_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
