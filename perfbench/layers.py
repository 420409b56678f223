"""The traced run: spans around engine layer calls, then layer probes.

``traced_run`` runs a workload with every layer function in ``TRACED``
wrapped by the tracer (timed-loop operations are requests; the span file
keeps them), then measures each layer on the run's own index and query
stream: postings read, decode and BM25 microbenchmarks, an in-process
replay of the stream (serving without IPC) with cache counters, the
serving round-trip floor, the Spark job floor, jobs and tasks per facade
call, one compound batch, the build's phases and bytes, tokenize and
encode throughput, and one update round plus a merge of a small
generation layout.  Microbenchmarks run only here, never in an untraced
run.  ``perfbench/README.md`` lists which end-to-end metric each layer
metric should move, on which workload.
"""

from __future__ import annotations

import importlib
import os
import time

import numpy as np
import pandas as pd

import inputs
import workloads as W
from spans import JobCounter, Tracer

# (module, attribute, layer): public engine functions looked up through
# their module at call time, so calls from inside the engine are traced;
# a module that imports one by name at load time holds its own reference,
# wrapped there as well
TRACED = [
    ("pim_lucene_spark.operators.index_build", "build_index", "build"),
    ("pim_lucene_spark.operators.search", "search", "search"),
    ("pim_lucene_spark.operators.search", "search_local", "search_local"),
    ("pim_lucene_spark.operators.search", "plan_queries", "plan_queries"),
    ("pim_lucene_spark.operators.search", "term_doc_freqs",
     "term_doc_freqs"),
    ("pim_lucene_spark.operators.search", "decode_columnar", "decode"),
    ("pim_lucene_spark.plans.router", "search", "search"),
    ("pim_lucene_spark.plans.compound", "plan_queries", "plan_queries"),
    ("pim_lucene_spark.plans.compound", "term_doc_freqs",
     "term_doc_freqs"),
    ("pim_lucene_spark.functions.bm25", "score", "bm25"),
    ("pim_lucene_spark.plans.compound", "search_compound_local",
     "compound"),
    ("pim_lucene_spark.plans.boolean", "search_boolean", "compound"),
    ("pim_lucene_spark.plans.dismax", "search_dismax", "compound"),
    ("pim_lucene_spark.operators.deletes", "write_deletes", "deletes"),
    ("pim_lucene_spark.operators.merge", "merge_indexes", "merge"),
    ("pim_lucene_spark.streaming.ingest", "build_index", "build"),
    ("pim_lucene_spark.streaming.ingest", "merge_indexes", "merge"),
]
# (class path, method, layer): the user-facing entry points
TRACED_METHODS = [
    ("pim_lucene_spark.index", "FullTextIndex", "search", "facade"),
    ("pim_lucene_spark.index", "FullTextIndex", "query", "facade"),
    ("pim_lucene_spark.index", "FullTextIndex", "search_local", "facade"),
    ("pim_lucene_spark.index", "FullTextIndex", "query_local", "facade"),
    ("pim_lucene_spark.serving", "ShardedServer", "search", "serving"),
    ("pim_lucene_spark.serving", "ShardedServer", "map", "serving"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toPandas", "collect"),
]
SPAN_LAYERS = ["facade", "serving", "search", "plan_queries",
               "term_doc_freqs", "decode", "bm25", "compound",
               "search_local", "collect"]
PROBE_QUERIES = 60
FACADE_CALLS = 15
OVERHEAD_QUERIES = 40
WRITE_DOCS = 4_000


def install(tracer: Tracer) -> None:
    for mod, name, layer in TRACED:
        tracer.wrap(importlib.import_module(mod), name, layer)
    for mod, cls, name, layer in TRACED_METHODS:
        tracer.wrap(getattr(importlib.import_module(mod), cls), name, layer)


def traced_run(run: W.Run, workload) -> None:
    run.setups = 1
    run.tracer = Tracer()
    install(run.tracer)
    try:
        workload(run)
        replay(run)
        span_metrics(run)
        overhead(run)
    finally:
        run.tracer.unwrap_all()
    probes(run)


def span_metrics(run: W.Run) -> None:
    """Per-call time of the planner layers, and self time per request of
    every layer, over the requests of the timed loops and the in-process
    replay."""
    st = run.tracer.self_times(min_request=1)
    none = {"calls": 0, "total_s": 0.0, "self_s": 0.0}
    for layer, name in (("plan_queries", "search.plan_queries_ms"),
                        ("term_doc_freqs", "search.term_doc_freqs_ms")):
        d = st.get(layer, none)
        run.layer(name, 1e3 * d["total_s"] / max(d["calls"], 1), "ms")
    requests = max(run.tracer.n_requests, 1)
    for layer in SPAN_LAYERS:
        run.layer(f"span.{layer}.self_ms",
                  1e3 * st.get(layer, none)["self_s"] / requests, "ms")
    run.layer("loadgen.late_p90_ms", W.pct(run.late_ms, 90), "ms")


def plain_specs(specs) -> list[inputs.QuerySpec]:
    return [s for s in specs if s.kind in ("phrase", "term")]


def replay(run: W.Run) -> None:
    """The workload's stream replayed in-process through the serving
    path (no IPC), from empty caches, with the serving cache budget."""
    from pim_lucene_spark.operators.search import (clear_local_cache,
                                                   clear_postings_cache,
                                                   postings_cache_stats)
    clear_postings_cache()
    clear_local_cache()
    lat = []
    run.timing = True
    for i, spec in enumerate(run.replay_specs):
        t0 = time.perf_counter()
        run.op(run.index.query_local, [(i, W.typed(spec))], k=W.K,
               postings_cache_mb=W.SERVE_CACHE_MB)
        lat.append(time.perf_counter() - t0)
    run.timing = False
    st = postings_cache_stats()
    looked_up = st["hits"] + st["misses"]
    run.layer("search_local.p50_ms", W.pct(lat, 50) * 1e3, "ms")
    run.layer("search_local.p90_ms", W.pct(lat, 90) * 1e3, "ms")
    run.layer("search_local.cache_hit_ratio",
              st["hits"] / max(looked_up, 1), "ratio")
    # every miss admits its entry (bar one larger than the whole budget),
    # so entries no longer resident were evicted
    run.layer("search_local.cache_evictions",
              max(st["misses"] - st["entries"], 0), "count")
    run.layer("search_local.cache_mb", st["bytes"] / 2**20, "MB")


def overhead(run: W.Run) -> None:
    """Tracing overhead: the same warm in-process queries, alternately
    untraced and traced."""
    specs = run.replay_specs[:OVERHEAD_QUERIES]

    def one_pass() -> float:
        lat = []
        for i, spec in enumerate(specs):
            t0 = time.perf_counter()
            run.op(run.index.query_local, [(i, W.typed(spec))], k=W.K,
                   postings_cache_mb=W.SERVE_CACHE_MB)
            lat.append(time.perf_counter() - t0)
        return float(np.median(lat))

    traced, plain = [], []
    one_pass()  # warm
    for _ in range(4):
        run.tracer.unwrap_all()
        plain.append(one_pass())
        install(run.tracer)
        traced.append(one_pass())
    run.layer("trace.overhead_frac", np.median(traced) / np.median(plain)
              - 1.0, "ratio")
    run.layer("trace.spans", len(run.tracer.spans), "count")


def probes(run: W.Run) -> None:
    postings_probe(run)
    serving_floor(run)
    job_floor(run)
    facade_probe(run)
    compound_probe(run)
    build_probe(run)
    write_probe(run)


def postings_probe(run: W.Run) -> None:
    """pyarrow ``term IN`` reads of each query's posting rows, then
    ``decode_columnar`` and ``bm25.score`` on the decoded postings."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.functions.postings import decode_columnar
    m = run.index.manifest
    cache = bm25.score_cache(np.float32(m.avgdl), m.k1, m.b, "float32")
    rng = np.random.default_rng([run.seed, 20])
    specs = plain_specs(run.replay_specs)[:PROBE_QUERIES]
    read_s = dec_s = score_s = 0.0
    rows = nbytes = postings = 0
    for spec in specs:
        terms = sorted(set(spec.text.split()))
        t0 = time.perf_counter()
        tables = [pq.read_table(m.chunk_path(c),
                                filters=[("term", "in", terms)])
                  for c in range(m.build_chunks)]
        read_s += time.perf_counter() - t0
        freqs = []
        for t in tables:
            rows += t.num_rows
            for col in ("doc_blob", "freq_blob", "pos_blob"):
                nbytes += int(pc.sum(pc.binary_length(t.column(col)))
                              .as_py() or 0)
            cols = [t.column(c).to_pylist() for c in
                    ("doc_blob", "freq_blob", "pos_blob", "seg_doc_counts")]
            t0 = time.perf_counter()
            for d, f, p, counts in zip(*cols):
                tp = decode_columnar(d, f, p, np.asarray(counts))
                freqs.append(tp.freqs)
            dec_s += time.perf_counter() - t0
        if freqs:
            fr = np.concatenate(freqs)
            postings += fr.size
            norms = rng.integers(0, 256, size=fr.size).astype(np.uint8)
            t0 = time.perf_counter()
            bm25.score(fr, norms, 1.5, cache, "float32")
            score_s += time.perf_counter() - t0
    n = max(len(specs), 1)
    run.layer("postings.read_ms", 1e3 * read_s / n, "ms")
    run.layer("postings.rows_read", rows / n, "count")
    run.layer("postings.bytes_read", nbytes / n, "bytes")
    run.layer("postings.decode_ms", 1e3 * dec_s / n, "ms")
    run.layer("postings.decode_ns_per_posting",
              1e9 * dec_s / max(postings, 1), "ns")
    run.layer("bm25.score_ns_per_hit", 1e9 * score_s / max(postings, 1),
              "ns")


def serving_floor(run: W.Run) -> None:
    """Round trip of a zero-hit query through shard-mode serving."""
    from pim_lucene_spark.serving import ShardedServer
    with ShardedServer(run.index.manifest.index_dir, run.shards,
                       mode="shard",
                       postings_cache_mb=W.SERVE_CACHE_MB) as srv:
        lat = []
        for i in range(45):
            t0 = time.perf_counter()
            run.op(srv.search, [(i, f"{inputs.ABSENT_PREFIX}floor")], k=W.K)
            lat.append(time.perf_counter() - t0)
    run.layer("serving.roundtrip_floor_ms", W.pct(lat[5:], 50) * 1e3, "ms")


def job_floor(run: W.Run) -> None:
    """An identity one-task ``mapInPandas`` job."""
    lat = []
    for _ in range(7):
        t0 = time.perf_counter()
        run.op(lambda: run.spark.range(0, 1, 1, 1)
               .mapInPandas(lambda batches: batches, "id long").collect())
        lat.append(time.perf_counter() - t0)
    run.layer("spark.job_floor_ms", W.pct(lat[2:], 50) * 1e3, "ms")


def facade_probe(run: W.Run) -> None:
    """Single ``FullTextIndex.search`` calls under a job group: time to
    the returned DataFrame, time of ``collect``, jobs and tasks."""
    counter = JobCounter(run.spark)
    specs = plain_specs(run.replay_specs)[:FACADE_CALLS]
    plan, exe, jobs, tasks = [], [], [], []
    for spec in specs:
        def call(text=spec.text):
            t0 = time.perf_counter()
            df = run.index.search([(0, text)], k=W.K)
            t1 = time.perf_counter()
            df.collect()
            return t1 - t0, time.perf_counter() - t1

        res, n_jobs, n_tasks = counter.run(lambda: run.op(call))
        if res is not None:
            plan.append(res[0])
            exe.append(res[1])
        jobs.append(n_jobs)
        tasks.append(n_tasks)
    n = max(len(specs), 1)
    run.layer("search.plan_ms", W.pct(plan, 50) * 1e3, "ms")
    run.layer("search.exec_ms", W.pct(exe, 50) * 1e3, "ms")
    run.layer("search.jobs_per_call", sum(jobs) / n, "count")
    run.layer("search.tasks_per_call", sum(tasks) / n, "count")
    run.layer("search.inline_share", sum(j == 0 for j in jobs) / n, "ratio")
    qm = inputs.QueryMaker(run.corpus, np.random.default_rng(0))
    run.layer("search.sum_df_per_query",
              sum(qm.sum_df(s.text) for s in specs) / n, "count")


def compound_probe(run: W.Run) -> None:
    """One batch of the workload's Boolean and DisMax queries through
    ``FullTextIndex.query``."""
    specs = [s for s in run.batch_specs if s.kind in ("bool", "dismax")]
    batch = [(j, W.typed(s)) for j, s in enumerate(specs)]
    t0 = time.perf_counter()
    run.op(lambda: run.index.query(batch, k=W.K).toPandas())
    run.layer("compound.batch_ms", (time.perf_counter() - t0) * 1e3, "ms")


def build_probe(run: W.Run) -> None:
    """Build phases (from the manifest), bytes written per table, and
    tokenize / encode throughput on a slice of the corpus."""
    from pim_lucene_spark.functions.tokenize import tokenize_to_codes
    from pim_lucene_spark.operators.index_build import \
        encode_partition_postings
    m = run.index.manifest
    ph = m.metrics.get("phase_seconds", {})
    run.layer("build.plan_s", ph.get("plan", 0.0), "s")
    run.layer("build.norms_postings_s", ph.get("norms+postings", 0.0), "s")
    run.layer("build.stats_metrics_s", ph.get("stats+metrics", 0.0), "s")
    for name, path in (("docs", m.docs_path), ("postings", m.postings_path),
                       ("norms", m.norms_path), ("stats", m.stats_path)):
        run.layer(f"build.{name}_mb", W.dir_bytes(path) / 2**20, "MB")

    texts = pd.Series(run.contents[:5_000])
    mb = sum(len(t.encode()) for t in texts) / 2**20
    tok_s, enc_s, enc_mb = [], [], 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        doc, codes, pos, uniq = tokenize_to_codes(texts, "whitespace")
        tok_s.append(time.perf_counter() - t0)
        order = np.lexsort((pos, doc, codes))
        t0 = time.perf_counter()
        out = encode_partition_postings(
            0, codes[order], doc[order], pos[order], uniq, 1, 4,
            -(-len(texts) // 4), 1 << 17)
        enc_s.append(time.perf_counter() - t0)
        enc_mb = sum(out[c].map(len).sum() for c in
                     ("doc_blob", "freq_blob", "pos_blob")) / 2**20
    run.layer("tokenize.mb_per_s", mb / float(np.median(tok_s)), "MB/s")
    run.layer("postings.encode_mb_per_s", enc_mb / float(np.median(enc_s)),
              "MB/s")


def write_probe(run: W.Run) -> None:
    """One update round (about 1% of ids replaced, as many inserted) on a
    generation layout built from a slice of the corpus, a read after the
    write, then a merge; the replaced versions must be gone and the
    compacted doc count right."""
    from pim_lucene_spark import FullTextIndex
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.streaming.ingest import (merge_generations,
                                                   update_docs)
    spark = run.spark
    root = os.path.join(run.work, "generations")
    gen0 = os.path.join(root, "gen=0000000000")
    base = run.docs.filter(run.docs.doc_id < WRITE_DOCS)
    build_index(spark, base, gen0, id_col="doc_id")
    rng = np.random.default_rng([run.seed, 21])
    n_upd = WRITE_DOCS // 100
    replaced = np.sort(rng.choice(WRITE_DOCS, size=n_upd, replace=False))
    ids, contents = inputs.new_versions(run.corpus, run.seed, 0, replaced,
                                        n_upd, run.corpus.num_docs)
    upd = spark.createDataFrame(pd.DataFrame({"doc_id": ids,
                                              "content": contents}))
    tracer = Tracer()
    tracer.wrap(importlib.import_module("pim_lucene_spark.operators.deletes"),
                "write_deletes", "deletes")
    try:
        t0 = time.perf_counter()
        _, jobs, _ = JobCounter(spark).run(
            lambda: run.op(update_docs, spark, root, upd))
        update_s = time.perf_counter() - t0
    finally:
        tracer.unwrap_all()
    deletes = tracer.self_times().get("deletes", {"total_s": 0.0})
    run.layer("update.s", update_s, "s")
    run.layer("update.jobs_per_call", jobs, "count")
    run.layer("deletes.write_s", deletes["total_s"], "s")
    run.layer("deletes.bytes_written_kb",
              W.dir_bytes(os.path.join(gen0, "deletes")) / 1024, "KB")

    # read after write: each replaced doc's rarest term must no longer
    # find the old version in the first generation
    old = FullTextIndex.open(spark, gen0)
    df = run.corpus.doc_freqs()
    b = run.corpus.doc_bounds
    lat = []
    for d in replaced[:10]:
        toks = run.corpus.tok[b[d]:b[d + 1]]
        term = str(run.corpus.vocab[toks[np.argmin(df[toks])]])
        t0 = time.perf_counter()
        hits = run.op(old.search_local, [(0, term)], k=1000)
        lat.append(time.perf_counter() - t0)
        if hits is not None:
            run.check(f"replaced id {d} gone", int(d) in
                      set(hits["doc_id"].astype(int)), False)
    run.layer("update.read_after_write_ms", W.pct(lat, 50) * 1e3, "ms")

    t0 = time.perf_counter()
    merged = run.op(merge_generations, spark, root)
    run.layer("merge.s", time.perf_counter() - t0, "s")
    if merged is not None:
        run.check("compacted doc count", merged.doc_count,
                  WRITE_DOCS + n_upd)
        run.layer("merge.bytes_written_mb",
                  W.dir_bytes(merged.index_dir) / 2**20, "MB")

