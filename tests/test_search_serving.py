"""Serving searches from a persisted index: plan shape, job budget and
parity with the broadcast-join search.

A search against a fitted, persisted index must read only the index's
cached tables. A query-term table built with ``createDataFrame`` is a
Python RDD: every search would then start Python workers and run extra
jobs. ``search()`` must also stay lazy, since registry queries compose
it into larger plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_rag_spark.api import RagEngine
from data_engineering_rag_spark.operators.tfidf import build_tfidf, search_topk, tokenize_query

MAX_SEARCH_JOBS = 3

UNICODE_DOCS = [
    (0, "café au lait et café noir"),
    (1, "naïve résumé naïve approach café"),
    (2, "привет мир привет spark"),
    (3, "plain ascii words only here"),
]


def _broadcast_join_search(spark, model, query, k=5, boosts=None):
    """The earlier search: a ``createDataFrame`` query-term table joined
    to ``idf`` and broadcast into ``weights``. Kept as the reference the
    serving path must match."""
    boosts = boosts or {}
    counts = tokenize_query(query, model.token_mode)
    if not counts:
        return model.weights.select(*model.key_cols).limit(0).withColumn("score", F.lit(0.0))
    qt = spark.createDataFrame([(t, float(c)) for t, c in counts.items()], ["term", "qtf"])
    q = qt.join(model.idf, "term").select(
        "field", "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qnorm = q.groupBy("field").agg(F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw"))).alias("qnorm"))
    qvec = q.join(qnorm, "field").select(
        "field", "term", (F.col("qw_raw") / F.col("qnorm")).alias("qw")
    )
    boost_expr = F.lit(1.0)
    for fname, b in boosts.items():
        boost_expr = F.when(F.col("field") == fname, F.lit(float(b))).otherwise(boost_expr)
    scored = (
        model.weights.join(F.broadcast(qvec), ["field", "term"])
        .select(*model.key_cols, (F.col("w") * F.col("qw") * boost_expr).alias("contrib"))
        .groupBy(*model.key_cols)
        .agg(F.sum("contrib").alias("score"))
    )
    order = [F.round(F.col("score"), 8).desc()] + [F.col(c).asc() for c in model.key_cols]
    return scored.orderBy(*order).limit(k)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from data_engineering_rag_spark.plans import load

    return load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content"), "source"
    )


@pytest.fixture(scope="module")
def tfidf_index(spark, docs):
    idx = RagEngine(spark).index(docs, key_cols=["doc_id"], text_fields=["content", "source"])
    idx.model.weights.count()
    idx.model.idf.count()
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def bm25_index(spark, docs):
    idx = RagEngine(spark).index(
        docs, key_cols=["doc_id"], text_fields=["content"], engine="bm25"
    )
    idx.model.weights.count()
    yield idx
    idx.unpersist()


def _plan_text(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString() + qe.executedPlan().toString()


def _job_ids(spark, gid: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(gid))


def _lazy_then_collect(spark, gid: str, search):
    """(jobs started by building the search, jobs started by collect)."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        df = search()
        built = _job_ids(spark, gid)
        df.collect()
        return built, _job_ids(spark, gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_search_plans_read_no_python_rdd(tfidf_index, bm25_index):
    for name, df in [
        ("RagIndex.search", tfidf_index.search("data stream join", k=5)),
        ("RagIndex.search_batch", tfidf_index.search_batch([(0, "data join"), (1, "stream")], k=3)),
        ("Bm25Index.search", bm25_index.search("data stream join", k=5)),
    ]:
        plan = _plan_text(df)
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, name


@pytest.mark.parametrize("engine", ["tfidf", "bm25"])
def test_search_is_lazy_and_within_job_budget(spark, tfidf_index, bm25_index, engine):
    idx = tfidf_index if engine == "tfidf" else bm25_index
    for i, q in enumerate(["data stream join", "the order key order", "zzqx data"]):
        built, total = _lazy_then_collect(spark, f"serve-{engine}-{i}", lambda: idx.search(q, k=5))
        assert built == [], f"search({q!r}) ran a job before collect()"
        assert 0 < len(total) <= MAX_SEARCH_JOBS, (q, len(total))


def test_search_batch_is_lazy_and_matches_single_searches(spark, tfidf_index):
    queries = [(0, "data"), (7, "join key join"), (3, "zzqx")]
    built, total = _lazy_then_collect(
        spark, "serve-batch", lambda: tfidf_index.search_batch(queries, k=3)
    )
    assert built == [] and total
    batch = tfidf_index.search_batch(queries, k=3)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in batch.schema] == [
        ("query_id", "bigint", True),
        ("doc_id", "bigint", True),
        ("score", "double", True),
    ]
    rows = batch.collect()
    for qid, q in queries:
        got = sorted((r for r in rows if r.query_id == qid), key=lambda r: (-round(r.score, 8), r.doc_id))
        _assert_same_topk(got, tfidf_index.search(q, k=3).collect(), ["doc_id"])


def _assert_same_topk(got, want, key_cols):
    assert [tuple(r[c] for c in key_cols) for r in got] == [
        tuple(r[c] for c in key_cols) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g.score - w.score) <= 1e-12, (g, w)


@pytest.mark.parametrize(
    "query,boosts",
    [
        ("data data data stream join join", None),  # repeated terms
        ("zzqx qqzz xxqq", None),  # every term out of vocabulary
        ("order zzqx key qqzz", None),  # known and unknown terms
        ("src7", None),  # a term only the source field knows
        ("src7 order data", None),
        ("src7 order data", {"content": 2.5}),
        ("src7 order data", {"source": 3.0}),
        ("src7 order data", {"content": 0.5, "source": 4.0}),
        ("src7 order data", {"title": 9.0}),  # a field the index lacks
    ],
)
def test_search_matches_broadcast_join_search(spark, tfidf_index, query, boosts):
    model = tfidf_index.model
    got = search_topk(spark, model, query, k=10, boosts=boosts).collect()
    want = _broadcast_join_search(spark, model, query, k=10, boosts=boosts).collect()
    _assert_same_topk(got, want, model.key_cols)
    if query.startswith("zzqx"):
        assert got == []
    else:
        assert got


def test_term_in_one_field_only_is_real(tfidf_index):
    fields = {r.field for r in tfidf_index.model.idf.where(F.col("term") == "src7").collect()}
    assert fields == {"source"}


def test_unicode_search_matches_broadcast_join_search(spark):
    df = spark.createDataFrame(UNICODE_DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"], token_mode="unicode", persist=True)
    try:
        for q in ["café café naïve", "привет spark", "résumé zzqx"]:
            got = search_topk(spark, model, q, k=4).collect()
            want = _broadcast_join_search(spark, model, q, k=4).collect()
            assert got
            _assert_same_topk(got, want, model.key_cols)
    finally:
        model.unpersist()
