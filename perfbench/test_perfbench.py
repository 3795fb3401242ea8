"""Self-tests of the benchmark: seeded inputs repeat exactly, the
reference scorer agrees with the registry's DuckDB TF-IDF oracle, and a
wrong result is counted as a failed operation.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import workloads  # noqa: E402
from reference import TfidfReference, chunks, corpus_chunks, result_digest, topk_matches  # noqa: E402
from spans import Tracer  # noqa: E402


def test_repo_zip_and_queries_repeat_per_seed():
    a, desc, kept = gen.repo_zip(7, 60)
    b, _, kept_b = gen.repo_zip(7, 60)
    assert a == b and kept == kept_b
    assert gen.repo_zip(8, 60)[0] != a
    assert desc["files"] == 60 and desc["kinds"].get("skip", 0) > 0
    assert len(kept) == 60 - desc["kinds"]["skip"]
    qa, qdesc = gen.query_stream(7, 300)
    assert qa == gen.query_stream(7, 300)[0]
    assert qa != gen.query_stream(8, 300)[0]
    assert len(set(qa)) == len(qa) and qdesc["exact_repeat_share"] == 0.0
    assert all(1 <= len(q.split()) <= 8 for q in qa)
    assert 0.05 < qdesc["oov_term_share"] < 0.15 and qdesc["head_term_share"] > 0.3


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_reference_scorer_matches_tfidf_search_oracle(scale):
    from data_engineering_rag_spark.plans import REGISTRY
    from data_engineering_rag_spark.plans.rag import CHUNK_SIZE, CHUNK_STEP, SEARCH_K, SEARCH_QUERY

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{HERE}/data/{scale}/documents.parquet'")
    docs = [
        {"doc_id": doc_id, "start": start, "content": chunk}
        for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall()
        for start, chunk in chunks(text, CHUNK_SIZE, CHUNK_STEP)
    ]
    ref = TfidfReference(docs, ["doc_id", "start"], ["content"])
    want = [(k, round(s, 8)) for k, s in ref.search(SEARCH_QUERY, SEARCH_K)]
    got = [((d, s), sc) for d, s, sc in con.execute(
        f"SELECT doc_id, start, score FROM ({REGISTRY['tfidf_search_topk'].oracle}) "
        "ORDER BY score DESC, doc_id, start").fetchall()]
    assert len(want) == SEARCH_K
    assert topk_matches(got, want)


def _run() -> workloads.Run:
    return workloads.Run(None, None, Tracer(False), seed=1, seconds=0, work="")


def test_wrong_search_result_counts_as_failed():
    docs = [{"filename": f"f{i}.md", "start": 0, "content": f"alpha beta {'gamma ' * i}"}
            for i in range(8)]
    ref = TfidfReference(docs, ["filename", "start"], ["content", "filename"])
    right = [{"filename": k[0], "start": k[1], "score": s} for k, s in ref.search("gamma beta")]
    run = _run()
    workloads.check_search(run, ref, "gamma beta", right)
    assert (run.attempted, run.failed) == (1, 0)
    workloads.check_search(run, ref, "gamma beta", right[::-1])
    workloads.check_search(run, ref, "gamma beta", right[:-1])
    assert (run.attempted, run.failed) == (3, 2)


def test_wrong_chunks_count_as_failed():
    _, _, kept = gen.repo_zip(3, 40)
    want = workloads.chunk_rows(corpus_chunks(kept, workloads.SYSTEM_PROMPT, 2000, 1000))
    run = _run()
    workloads.check_chunks(run, list(reversed(want)), want)
    assert (run.attempted, run.failed) == (1, 0)
    workloads.check_chunks(run, want[1:], want)  # a chunk dropped
    workloads.check_chunks(run, [want[0]] + want[:-1], want)  # one doubled, one dropped
    (f, s, c), rest = want[0], want[1:]
    workloads.check_chunks(run, [(f, s, "---\n" + c)] + rest, want)  # content differs
    assert (run.attempted, run.failed) == (4, 3)


def test_wrong_registry_result_counts_as_failed():
    cols, rows = ["a", "b"], [(1, 2.5), (2, None)]
    run = _run()
    workloads.check_result(run, "q", cols, rows, ["b", "a"], [(None, 2), (2.5, 1)])
    assert run.failed == 0
    workloads.check_result(run, "q", cols, rows, cols, [(1, 2.5), (2, 0.0)])
    workloads.check_result(run, "q", cols, rows, cols, [(1.0, 2.5), (2, None)])  # int vs float
    assert (run.attempted, run.failed) == (3, 2)
    assert result_digest(cols, rows) == result_digest(cols, rows[::-1])
