"""One executor stage per mixed ``FullTextIndex.query`` batch.

Plain (term/phrase) and compound (Boolean/DisMax, ConstantScore and
MatchAllDocs wrappers) queries share the file-owned executor: one
``Range → MapInPandas`` stage, or no job at all below the inline gate,
then a driver head-k merge.  Pinned here: results and schema equal the
per-kind plans (``search`` + the join-chain Boolean/DisMax plans), the
job/stage counts, the multi-field compound executor, and the knobs the
fused batch's gate and result conversion use.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pim_lucene_spark import (BooleanQuery, DisMaxQuery, FullTextIndex,
                              IndexConfig, MultiFieldIndex)
from pim_lucene_spark.operators.search import search
from pim_lucene_spark.plans.boolean import (_search_boolean_fields_join,
                                            search_boolean,
                                            search_boolean_fields)
from pim_lucene_spark.plans.dismax import search_dismax
from pim_lucene_spark.plans.query import (ConstantScoreQuery, FieldedQuery,
                                          MatchAllDocsQuery, PhraseQuery)

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa", "the", "of"]
COLS = ["qid", "doc_id", "freq", "norm", "score"]


def _corpus(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    p = np.linspace(3.0, 1.0, len(VOCAB))
    p /= p.sum()
    return pd.DataFrame({
        "doc_id": range(n),
        "content": [" ".join(rng.choice(VOCAB, size=rng.integers(3, 14),
                                        p=p)) for _ in range(n)],
        "title": [" ".join(rng.choice(VOCAB, size=rng.integers(1, 5)))
                  for _ in range(n)],
    })


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fused") / "idx")
    idx = FullTextIndex.build(
        spark, spark.createDataFrame(_corpus(300, 5)[["doc_id", "content"]]),
        d, IndexConfig(4, 2, build_chunks=2), id_col="doc_id")
    idx.delete_docs([3, 8, 17, 40, 41, 99, 150, 151, 152, 299])
    return idx


BATCH = [
    (0, "alpha beta"),
    (1, "gamma"),
    (2, BooleanQuery(must=["alpha"], should=["beta", "the"],
                     must_not=["delta"])),
    (3, DisMaxQuery(["epsilon", "zeta eta"], tie=0.3)),
    (4, "zzz_absent"),
    (5, ConstantScoreQuery("theta", boost=2.5)),
    (6, MatchAllDocsQuery(boost=1.5)),
    (7, PhraseQuery("of the", boost=2.0)),
    (8, BooleanQuery(should=["iota", "kappa"])),
]


def _per_kind(spark, idx, batch, k):
    """The batch through the per-kind plans the fused stage replaces:
    ``search`` for term/phrase, the join-chain Boolean/DisMax plans, and
    the wrappers' single-MUST Boolean rewrite at float64 — unioned the
    way ``query`` unions its parts."""
    m = idx.manifest
    exact = [(q, t) for q, t in batch if isinstance(t, str)]
    exact += [(q, t.text, t.boost) for q, t in batch
              if isinstance(t, PhraseQuery)]
    bools = [(q, t) for q, t in batch if isinstance(t, BooleanQuery)]
    dms = [(q, t) for q, t in batch if isinstance(t, DisMaxQuery)]
    wraps = []
    for q, t in batch:
        if isinstance(t, MatchAllDocsQuery):
            wraps.append((q, BooleanQuery(must=[t])))
        elif isinstance(t, ConstantScoreQuery):
            wraps.append((q, BooleanQuery(
                must=[MatchAllDocsQuery(boost=t.boost)], filter=[t.query])))
    nul = [F.lit(None).cast("double").alias("freq"),
           F.lit(None).cast("int").alias("norm")]
    parts = [search_boolean(spark, m, bools, k=k, plan="join"),
             search_dismax(spark, m, dms, k=k, plan="join"),
             search_boolean(spark, m, wraps, k=k, precision="float64",
                            plan="join")]
    parts = [p.select("qid", "doc_id", *nul, "score") for p in parts]
    parts.append(search(spark, m, exact, k=k))
    out = None
    for p in parts:
        p = p.withColumn("freq", F.col("freq").cast("double"))
        out = p if out is None else out.unionByName(p)
    return out


def _rows(df) -> pd.DataFrame:
    return (df.toPandas()[COLS].sort_values(["qid", "doc_id"])
            .reset_index(drop=True))


@pytest.mark.parametrize("gate", [None, "0"])
def test_mixed_batch_equals_per_kind_plans(spark, fidx, monkeypatch, gate):
    """Inline (default gate) and one-stage (gate 0) fused batches return
    exactly the per-kind plans' rows — freq/norm NULL on compound rows,
    deleted docs excluded — and the same schema."""
    if gate is not None:
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", gate)
    got = fidx.query(BATCH, k=7)
    want = _per_kind(spark, fidx, BATCH, 7)
    assert got.schema == want.schema
    a, b = _rows(got), _rows(want)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert set(a.qid) == {0, 1, 2, 3, 5, 6, 7, 8}  # qid 4: zero hits
    assert not set(a.doc_id) & {3, 8, 17, 40, 41, 99, 150, 151, 152, 299}
    comp = a.qid.isin([2, 3, 5, 6, 8])
    assert a.loc[comp, ["freq", "norm"]].isna().all().all()
    assert a.loc[~comp, ["freq", "norm"]].notna().all().all()


def test_plain_only_batch_keeps_result_schema(spark, fidx, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    batch = [(0, "alpha beta"), (1, "gamma"), (2, "zzz_absent")]
    got = fidx.query(batch, k=5)
    want = search(spark, fidx.manifest, batch, k=5)
    assert got.schema == want.schema
    pd.testing.assert_frame_equal(_rows(got), _rows(want), check_exact=True)


def _jobs(spark, fn):
    """(result, [stage count per job]) of the jobs ``fn`` launches."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"fused-{np.random.default_rng().integers(1 << 30)}"
    sc.setJobGroup(group, "fused query job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, [len(tracker.getJobInfo(j).stageIds)
                 for j in tracker.getJobIdsForGroup(group)]


def test_mixed_batch_job_counts(spark, fidx, monkeypatch):
    """Above the inline gate a mixed batch is ONE job of ONE stage (no
    Exchange, no Window); below it, zero jobs.  Collecting the result
    launches nothing further."""
    fidx.query(BATCH, k=7).collect()  # warm the stats/file-plan caches
    df, stages = _jobs(spark, lambda: fidx.query(BATCH, k=7))
    assert stages == []
    _, stages = _jobs(spark, df.collect)
    assert stages == []

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    fidx.query(BATCH, k=7).collect()
    df, stages = _jobs(spark, lambda: fidx.query(BATCH, k=7))
    assert stages == [1]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    _, stages = _jobs(spark, df.collect)
    assert stages == []


def test_direct_scan_off_keeps_per_kind_routes(spark, fidx, monkeypatch):
    """With pid→file ownership unavailable (``SPARK_GRAFT_DIRECT_SCAN=0``,
    as for URI layouts) the batch takes the exchange routes and still
    returns the same rows."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    fused = _rows(fidx.query(BATCH, k=7))
    monkeypatch.setenv("SPARK_GRAFT_DIRECT_SCAN", "0")
    pd.testing.assert_frame_equal(_rows(fidx.query(BATCH, k=7)), fused,
                                  check_exact=True)


@pytest.fixture(scope="module")
def mfidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fused_mf"))
    return MultiFieldIndex.build(
        spark, spark.createDataFrame(_corpus(200, 9)), d,
        fields={"body": "content", "title": "title"},
        cfg=IndexConfig(4, 2, build_chunks=2), id_col="doc_id")


MF_BATCH = [
    (0, BooleanQuery(must=[FieldedQuery("title", "alpha")],
                     should=["beta gamma", "delta"])),
    (1, BooleanQuery(should=[FieldedQuery("title", "epsilon"), "zeta"],
                     must_not=[FieldedQuery("title", "the")])),
    (2, BooleanQuery(must=[MatchAllDocsQuery(boost=0.5)],
                     filter=[FieldedQuery("title", "kappa")])),
]


@pytest.mark.parametrize("gate", [None, "0"])
def test_multifield_compound_executor(spark, mfidx, monkeypatch, gate):
    """Multi-field compound batches run on file groups per field over the
    one shared pid space (one stage above the gate) and equal the
    join-chain plan."""
    if gate is not None:
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", gate)
    search_boolean_fields(spark, mfidx.manifests, "body", MF_BATCH, k=6)
    got, stages = _jobs(spark, lambda: search_boolean_fields(
        spark, mfidx.manifests, "body", MF_BATCH, k=6))
    assert stages == ([] if gate is None else [1])
    want = _search_boolean_fields_join(spark, mfidx.manifests, "body",
                                       MF_BATCH, 6, "float32")
    cols = ["qid", "doc_id", "score"]
    a = got.toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True)
    b = want.toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True)
    assert len(a) and set(a.qid) == {0, 1, 2}
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_partial_frame_is_per_pid_topk(spark, fidx, monkeypatch):
    """``return_partial`` keeps the per-pid frame (≤ k rows per pid and
    query) on the one-stage executor too."""
    from pim_lucene_spark.plans.compound import _SpecBuilder, eval_compound
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    b = _SpecBuilder(spark, {"": fidx.manifest}, "")
    specs = b.specs([(0, BooleanQuery(should=["the", "of"]))])
    partial = eval_compound(spark, {"": fidx.manifest}, specs, b.leaves, 3,
                            "float32", return_partial=True).toPandas()
    P = fidx.manifest.num_partitions
    per_pid = partial.groupby(partial.doc_id % P).size()
    assert len(per_pid) == P and (per_pid == 3).all()


def test_inline_gate_ignores_task_budget(monkeypatch):
    """Raising the per-task postings budget (cluster task sizing) must
    not widen driver-inline routing."""
    from pim_lucene_spark.operators.search import (_kernel_task_count,
                                                   _local_route_max)
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_PER_TASK", str(1 << 22))
    assert _local_route_max() == 1 << 16
    assert _kernel_task_count(64, 1 << 24) == 8  # the budget still sizes
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "123")
    assert _local_route_max() == 123
