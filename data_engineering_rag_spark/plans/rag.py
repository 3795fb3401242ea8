"""RAG-pipeline parity queries (SURVEY.md §2.1-2.4): chunking, TF-IDF
index + search, and the ingest path/fence projections — each declared
with a DuckDB oracle so the driver hash-checks exact semantics.

The chunker/search correspond to the reference's signature dataflow
(``zc_agent/load_data.py:13-39`` chunking; ``minsearch`` TF-IDF search
via ``zc_agent/search_tools.py:7-17``). The synthetic ``documents``
table stands in for the processed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.paths import SKIP_SQL_SNIPPETS, extension_of, normalize_path, should_skip
from ..functions.text import STRIP_FENCE_SQL, strip_code_fence_col
from ..operators.chunker import chunk_documents, sliding_window_starts_sql
from ..operators.tfidf import (
    TOKEN_PATTERN,
    build_tfidf,
    search_topk,
    search_topk_batch,
    tokenize_query,
)
from . import load, query

CHUNK_SIZE, CHUNK_STEP = 200, 100  # doc texts are 48-553 chars; defaults (2000/1000) stay 1-chunk


# --------------------------------------------------------------------------
# Session-scoped index reuse (VERDICT r12 item 4). Eight registered
# queries build the IDENTICAL unfiltered docs-level TF-IDF model and two
# build the identical chunks-level one; in a one-session soak each
# rebuild re-shuffles the whole corpus. With SPARK_GRAFT_TFIDF_REUSE=1
# (bench/soak mode — default OFF so every registered query stays
# self-contained for the driver's oracle) the first build persists
# weights+idf (MEMORY_AND_DISK) and later calls in the same session
# reuse them. Correctness is untouched either way: persistence changes
# WHERE the tables come from, not their values, and the memo key pins
# the exact (session, sf_dir, corpus, params) identity. The filtered /
# vocabulary-pruned variants (tfidf_search_filtered, _pruned) are
# deliberately NOT memoized — their corpora differ.
# --------------------------------------------------------------------------

_TFIDF_MEMO: dict = {}

# Flag check + eviction rule shared with the ML LSH memo (r15 review:
# one definition, no drift between the two memos).
from ..operators.memo import reuse_enabled as _reuse_enabled  # noqa: E402


def clear_tfidf_memo() -> None:
    """Unpersist every memoized model and empty the memo. Call between
    bench/soak legs (or on session teardown) so a long-lived process
    that touches multiple sf_dirs doesn't accumulate persisted tables
    (r14, ADVICE)."""
    for model in _TFIDF_MEMO.values():
        try:
            model.unpersist()
        except Exception:
            pass  # a stopped SparkSession makes unpersist moot
    _TFIDF_MEMO.clear()


def _memo_put(key: tuple, model) -> None:
    """Insert, evicting (and unpersisting) entries for any OTHER
    (session, sf_dir): the memo holds at most the current scope's two
    models (docs + chunks), so switching sf_dirs or restarting sessions
    in-process can't grow it without bound (r14, ADVICE). The rule
    itself lives in ``operators/memo.py::scoped_put`` (non-exclusive:
    the docs and chunks entries coexist within one scope)."""
    from ..operators.memo import scoped_put

    scoped_put(_TFIDF_MEMO, key, model, lambda m: m.unpersist())


def _docs_model(spark: SparkSession, sf_dir: str):
    """The shared unfiltered documents-level model (8 consumers)."""
    key = (spark, sf_dir, "docs")
    if _reuse_enabled() and key in _TFIDF_MEMO:
        return _TFIDF_MEMO[key]
    docs = load(spark, sf_dir, "documents")
    model = build_tfidf(
        docs, key_cols=["doc_id"], text_fields=["text"], persist=_reuse_enabled()
    )
    if _reuse_enabled():
        _memo_put(key, model)
    return model


def _chunks_model(spark: SparkSession, sf_dir: str):
    """The shared chunk-level model over the default chunking (2 consumers)."""
    key = (spark, sf_dir, "chunks")
    if _reuse_enabled() and key in _TFIDF_MEMO:
        return _TFIDF_MEMO[key]
    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    model = build_tfidf(
        chunks,
        key_cols=["doc_id", "start"],
        text_fields=["content"],
        persist=_reuse_enabled(),
    )
    if _reuse_enabled():
        _memo_put(key, model)
    return model


# --------------------------------------------------------------------------
# C1/C2 — sliding-window chunker
# --------------------------------------------------------------------------

@query(
    "chunk_documents",
    f"""
    SELECT doc_id, lang, source,
           cast(start as bigint) AS start,
           substr(text, cast(start as int) + 1, {CHUNK_SIZE}) AS content,
           length(substr(text, cast(start as int) + 1, {CHUNK_SIZE})) AS chunk_len
    FROM (
      SELECT doc_id, lang, source, text,
             unnest({sliding_window_starts_sql('length(text)', CHUNK_SIZE, CHUNK_STEP)}) AS start
      FROM documents WHERE length(text) > 0
    )
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.col("text").alias("content")
    )
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    return chunks.select(
        "doc_id",
        "lang",
        "source",
        F.col("start").cast("long").alias("start"),
        "content",
        F.length("content").cast("long").alias("chunk_len"),
    )


@query(
    "chunk_documents_default_params",
    f"""
    SELECT doc_id, cast(start as bigint) AS start,
           substr(text, cast(start as int) + 1, 2000) AS content
    FROM (
      SELECT doc_id, text,
             unnest({sliding_window_starts_sql('length(text)', 2000, 1000)}) AS start
      FROM documents WHERE length(text) > 0
    )
    """,
)
def chunk_documents_default_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference default size=2000/step=1000 (``zc_agent/load_data.py:50``)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    return chunk_documents(docs, text_col="content", size=2000, step=1000).select(
        "doc_id", F.col("start").cast("long").alias("start"), "content"
    )


# --------------------------------------------------------------------------
# X1/X2 — TF-IDF weights + top-k search, with generated oracle CTEs
# --------------------------------------------------------------------------

def _tfidf_cte(source_sql: str, key_sql: str, text_sql: str) -> str:
    """DuckDB CTE chain computing L2-normalized tf-idf weights over one
    text field. Mirrors ``operators.tfidf.build_tfidf`` arithmetic
    exactly: tf = raw count, idf = ln((1+N)/(1+df)) + 1, w = tf·idf / ‖doc‖."""
    return f"""
    tok AS (
      SELECT {key_sql} AS k, unnest(regexp_extract_all(lower({text_sql}), '{TOKEN_PATTERN}')) AS term
      FROM {source_sql}
    ),
    tf AS (SELECT k, term, count(*) AS tf FROM tok GROUP BY k, term),
    ndocs AS (SELECT count(*) AS n_docs FROM {source_sql}),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1 AS idf FROM dfreq, ndocs),
    w AS (SELECT k, tf.term, tf * idf AS w_raw FROM tf JOIN idf ON tf.term = idf.term),
    nrm AS (SELECT k, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY k)
    """


@query(
    "tfidf_doc_weights",
    f"""
    WITH {_tfidf_cte("documents", "doc_id", "text")}
    SELECT w.k AS doc_id, w.term, round(w_raw / nrm, 8) AS w
    FROM w JOIN nrm ON w.k = nrm.k
    """,
)
def tfidf_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = _docs_model(spark, sf_dir)
    return model.weights.select("doc_id", "term", F.round("w", 8).alias("w"))


SEARCH_QUERY = "spark hash join window"
SEARCH_K = 5


def _search_oracle(query_text: str, k: int, min_df: int = 1, max_df: float = 1.0) -> str:
    toks = tokenize_query(query_text)
    qvals = ", ".join(f"('{t}', {c}.0)" for t, c in toks.items())
    chunk_src = f"""(
      SELECT doc_id, cast(start as bigint) AS start,
             substr(text, cast(start as int) + 1, {CHUNK_SIZE}) AS content
      FROM (SELECT doc_id, text,
                   unnest({sliding_window_starts_sql('length(text)', CHUNK_SIZE, CHUNK_STEP)}) AS start
            FROM documents WHERE length(text) > 0))"""
    return f"""
    WITH chunks AS (SELECT * FROM {chunk_src}),
    tok AS (
      SELECT doc_id, start, unnest(regexp_extract_all(lower(content), '{TOKEN_PATTERN}')) AS term
      FROM chunks
    ),
    tf AS (SELECT doc_id, start, term, count(*) AS tf FROM tok GROUP BY doc_id, start, term),
    ndocs AS (SELECT count(*) AS n_docs FROM chunks),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1 AS idf FROM dfreq, ndocs
            WHERE df >= {min_df} AND df <= {max_df} * n_docs),
    w AS (SELECT doc_id, start, tf.term, tf * idf AS w_raw FROM tf JOIN idf ON tf.term = idf.term),
    nrm AS (SELECT doc_id, start, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY doc_id, start),
    dvec AS (SELECT w.doc_id, w.start, w.term, w_raw / nrm AS w
             FROM w JOIN nrm ON w.doc_id = nrm.doc_id AND w.start = nrm.start),
    qtf AS (SELECT * FROM (VALUES {qvals}) AS t(term, qtf)),
    qw AS (SELECT qtf.term, qtf * idf AS qw_raw FROM qtf JOIN idf ON qtf.term = idf.term),
    qnrm AS (SELECT sqrt(sum(qw_raw * qw_raw)) AS qnrm FROM qw),
    qvec AS (SELECT term, qw_raw / qnrm AS qw FROM qw, qnrm)
    SELECT doc_id, start, round(sum(d.w * q.qw), 8) AS score
    FROM dvec d JOIN qvec q ON d.term = q.term
    GROUP BY doc_id, start
    ORDER BY round(sum(d.w * q.qw), 8) DESC, doc_id, start
    LIMIT {k}
    """


@query("tfidf_search_topk", _search_oracle(SEARCH_QUERY, SEARCH_K))
def tfidf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship dataflow end-to-end: chunk → tf-idf →
    broadcast-join scoring → global top-k (TakeOrderedAndProject).

    Ordering is by the ROUNDED score (both engines) so rank flips from
    sub-1e-8 float drift cannot change the selected row set."""
    model = _chunks_model(spark, sf_dir)
    hits = search_topk(spark, model, SEARCH_QUERY, k=SEARCH_K)
    return hits.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.round("score", 8).alias("score"),
    )


# --------------------------------------------------------------------------
# F1-F3, F8 — ingest projections, oracle-checked over literal rows
# --------------------------------------------------------------------------

_INGEST_PATHS = [
    "repo-main/README.md",
    "repo-main/docs/setup.MD",
    "repo-main/docs/guide.mdx",
    "repo-main/src/app.py",
    "repo-main/src/Query.SQL",
    "repo-main/src/Main.java",
    "repo-main/notebooks/demo.ipynb",
    "repo-main/.github/workflows/ci.yml",
    "repo-main/src/.hidden.py",
    "repo-main/assets/logo.png",
    "repo-main/Makefile",
    "repo-main/docs/",
    "repo-main/archive.tar.gz",
    "standalone.md",
]


def _ingest_values_sql() -> str:
    return ", ".join(f"('{p}')" for p in _INGEST_PATHS)


@query(
    "ingest_path_rules",
    f"""
    SELECT path,
           {SKIP_SQL_SNIPPETS['extension'].format(p='path')} AS ext,
           {SKIP_SQL_SNIPPETS['normalize'].format(p='path')} AS normalized,
           (ends_with(lower(path), '/')
            OR starts_with({SKIP_SQL_SNIPPETS['basename_lower'].format(p='path')}, '.')
            OR NOT ({SKIP_SQL_SNIPPETS['extension'].format(p='path')}
                    IN ('md','mdx','py','sql','java','ipynb'))) AS skip
    FROM (VALUES {_ingest_values_sql()}) AS t(path)
    """,
)
def ingest_path_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F3 on a literal path set covering every branch of the
    reference's skip/extension/normalize logic (hidden, dir, no-dot,
    multi-dot, uppercase extension, prefix-less path)."""
    df = spark.createDataFrame([(p,) for p in _INGEST_PATHS], ["path"])
    return df.select(
        "path",
        extension_of(F.col("path")).alias("ext"),
        normalize_path(F.col("path")).alias("normalized"),
        should_skip(F.col("path")).alias("skip"),
    )


_FENCE_TEXTS = [
    "```python\nprint('hi')\n```",
    "```\nplain\nfence\n```",
    "no fence at all",
    "  \n```sql\nSELECT 1\n```  \n",
    "```python\nno closing fence",
    "```",
    "```\n```",
    "text with ``` in middle\nstays",
    "   leading and trailing   ",
    "```js\nline1\nline2\n   ```   ",
]


def _fence_values_sql() -> str:
    return ", ".join(
        f"({i + 1}, '" + t.replace("'", "''").replace("\n", "' || chr(10) || '") + "')"
        for i, t in enumerate(_FENCE_TEXTS)
    )


@query(
    "strip_code_fence",
    f"""
    SELECT cast(case_id as bigint) AS case_id,
           {STRIP_FENCE_SQL.format(t='txt')} AS stripped
    FROM (VALUES {_fence_values_sql()}) AS t(case_id, txt)
    """,
)
def strip_code_fence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 fence strip over literal edge cases (reference
    ``prepare_data.py:147-160``): language tag, no closing fence,
    lone fence, fence-only body, mid-text backticks, whitespace."""
    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_FENCE_TEXTS)], ["case_id", "txt"]
    )
    return df.select(
        F.col("case_id").cast("long").alias("case_id"),
        strip_code_fence_col(F.col("txt")).alias("stripped"),
    )


BATCH_QUERIES: list[tuple[int, str]] = [
    (0, "spark hash join window"),
    (1, "stream batch order"),
    (2, "table scan merge sort"),
]


def _batch_search_scored_cte() -> str:
    """The tf-idf batch-search WITH-chain, ending at the ``scored``
    CTE (no trailing comma or final SELECT) — an explicit head for
    composition by ``_batch_search_oracle`` and
    ``_context_assembly_oracle``, which append their own tails instead
    of textually splitting a sibling oracle string (VERDICT r10 item 2;
    same explicit-head pattern as ``_retrieval_ranked_cte``)."""
    qvals = ", ".join(
        f"({qid}, '{t}', {c}.0)"
        for qid, q in BATCH_QUERIES
        for t, c in tokenize_query(q).items()
    )
    return f"""WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    ndocs AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1 AS idf FROM dfreq, ndocs),
    w AS (SELECT doc_id, tf.term, tf * idf AS w_raw FROM tf JOIN idf ON tf.term = idf.term),
    nrm AS (SELECT doc_id, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY doc_id),
    dvec AS (SELECT w.doc_id, w.term, w_raw / nrm AS w FROM w JOIN nrm ON w.doc_id = nrm.doc_id),
    qtf AS (SELECT * FROM (VALUES {qvals}) AS t(query_id, term, qtf)),
    qw AS (SELECT query_id, qtf.term, qtf * idf AS qw_raw FROM qtf JOIN idf ON qtf.term = idf.term),
    qnrm AS (SELECT query_id, sqrt(sum(qw_raw * qw_raw)) AS qnrm FROM qw GROUP BY query_id),
    qvec AS (SELECT qw.query_id, term, qw_raw / qnrm AS qw FROM qw JOIN qnrm ON qw.query_id = qnrm.query_id),
    scored AS (
      SELECT q.query_id, d.doc_id, round(sum(d.w * q.qw), 8) AS score
      FROM dvec d JOIN qvec q ON d.term = q.term
      GROUP BY q.query_id, d.doc_id
    )"""


def _batch_search_topk_select(k: int) -> str:
    """The per-query top-``k`` SELECT over ``scored`` — the explicit
    tail paired with ``_batch_search_scored_cte``."""
    return f"""SELECT cast(query_id as bigint) AS query_id, doc_id, score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM scored) WHERE rn <= {k}"""


def _batch_search_oracle(k: int) -> str:
    return f"""
    {_batch_search_scored_cte()}
    {_batch_search_topk_select(k)}
    """


@query("tfidf_multiquery_topk", _batch_search_oracle(SEARCH_K))
def tfidf_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched search over whole documents: one index scan serves all
    queries; per-query top-k via window (no global sort)."""
    model = _docs_model(spark, sf_dir)
    hits = search_topk_batch(spark, model, BATCH_QUERIES, k=SEARCH_K)
    return hits.select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        F.round("score", 8).alias("score"),
    )


@query(
    "tfidf_search_filtered",
    _search_oracle(SEARCH_QUERY, SEARCH_K).replace(
        "FROM documents WHERE length(text) > 0",
        "FROM documents WHERE length(text) > 0 AND lang = 'en'",
    ),
)
def tfidf_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: minsearch's exact-match keyword filter — a plain pre-scoring
    predicate (here lang='en'), applied before indexing so the filtered
    corpus defines df/idf exactly as minsearch's filter_dict does on its
    candidate set. Pushdown-friendly: the predicate reaches the scan."""
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", F.col("text").alias("content"))
    )
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    model = build_tfidf(chunks, key_cols=["doc_id", "start"], text_fields=["content"])
    hits = search_topk(spark, model, SEARCH_QUERY, k=SEARCH_K)
    return hits.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.round("score", 8).alias("score"),
    )


@query(
    "eval_generate_questions",
    f"""
    WITH sampled AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5(concat('sample42|', cast(doc_id as varchar))), doc_id
      LIMIT 50
    )
    SELECT doc_id, cast(q.q_num as bigint) AS q_num,
           concat('Q', cast(q.q_num as varchar), ': what about ',
                  coalesce(regexp_extract(regexp_replace(text, '^\\s+', ''), '^\\S+'), ''), '? [',
                  substr(sha256(concat('evalq|42|', cast(doc_id as varchar), '|', text, '|',
                                       cast(q.q_num as varchar))), 1, 8), ']') AS question
    FROM sampled, unnest(generate_series(1, 3)) AS q(q_num)
    """,
)
def eval_generate_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval stage 1 (reference ``generate_questions.py``): deterministic
    hash-order sample of 50 docs → stub-LLM 3 questions each (UDTF
    fan-out via mapInPandas) — whole stage value-checked incl. the stub."""
    from ..operators.evalgen import generate_questions

    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample42|"), F.col("doc_id").cast("string")))
    sampled = d.select("doc_id", "text", key.alias("_k")).orderBy("_k", "doc_id").limit(50).drop("_k")
    return generate_questions(sampled, seed=42)


# --------------------------------------------------------------------------
# BM25 search + hybrid lexical/vector fusion (EXT: the two standard
# retrieval upgrades a production RAG engine layers over plain TF-IDF)
# --------------------------------------------------------------------------

def _bm25_search_oracle(query_text: str, k: int) -> str:
    """BM25 over the chunked corpus — mirrors ``operators/bm25.py``
    arithmetic term for term. Float literals are cast to double
    explicitly: bare ``1.2`` is DECIMAL in DuckDB and decimal arithmetic
    would diverge from Spark's doubles."""
    terms = sorted(tokenize_query(query_text))
    qvals = ", ".join(f"('{t}')" for t in terms)
    return f"""
    WITH chunks AS (
      SELECT doc_id, cast(start as bigint) AS start,
             substr(text, cast(start as int) + 1, {CHUNK_SIZE}) AS content
      FROM (SELECT doc_id, text,
                   unnest({sliding_window_starts_sql('length(text)', CHUNK_SIZE, CHUNK_STEP)}) AS start
            FROM documents WHERE length(text) > 0)),
    tok AS (
      SELECT doc_id, start, unnest(regexp_extract_all(lower(content), '{TOKEN_PATTERN}')) AS term
      FROM chunks),
    tf AS (SELECT doc_id, start, term, count(*) AS tf FROM tok GROUP BY doc_id, start, term),
    dl AS (SELECT doc_id, start, cast(sum(tf) as bigint) AS dl FROM tf GROUP BY doc_id, start),
    stats AS (SELECT (SELECT count(*) FROM chunks) AS n_docs,
                     (SELECT cast(sum(tf) as double) FROM tf) / (SELECT count(*) FROM chunks) AS avgdl),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term,
                   ln((n_docs - df + cast(0.5 as double)) / (df + cast(0.5 as double)) + 1) AS idf
            FROM dfreq, stats),
    w AS (SELECT tf.doc_id, tf.start, tf.term,
                 idf * (tf * cast(2.2 as double))
                 / (tf + cast(1.2 as double)
                    * (cast(0.25 as double) + cast(0.75 as double) * (dl / avgdl))) AS w
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id AND tf.start = dl.start
                  JOIN idf ON tf.term = idf.term, stats),
    qt AS (SELECT * FROM (VALUES {qvals}) AS t(term))
    SELECT doc_id, start, round(sum(w), 8) AS score
    FROM w JOIN qt ON w.term = qt.term
    GROUP BY doc_id, start
    ORDER BY round(sum(w), 8) DESC, doc_id, start
    LIMIT {k}
    """


@query("bm25_search_topk", _bm25_search_oracle(SEARCH_QUERY, SEARCH_K))
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k over the chunked corpus — same fit→search
    lifecycle as the TF-IDF flagship, with a simpler search (query-term
    filter on the weights → partial agg → TakeOrderedAndProject, no
    join), and with BM25's tf saturation and length
    normalization folded into the precomputed index weights
    (``operators/bm25.py``)."""
    from ..operators.bm25 import build_bm25, search_bm25

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    model = build_bm25(chunks, key_cols=["doc_id", "start"], text_field="content")
    out = search_bm25(spark, model, SEARCH_QUERY, k=SEARCH_K)
    return out.select(
        "doc_id", F.col("start").cast("long").alias("start"), "score"
    )


HYBRID_POOL_K = 20  # per-signal candidate pool
HYBRID_K = 10  # fused output size
RRF_C = 60  # the standard reciprocal-rank-fusion damping constant


def _hybrid_rrf_oracle() -> str:
    return f"""
    WITH {_tfidf_cte("documents", "doc_id", "text")},
    dvec AS (SELECT w.k, w.term, w_raw / nrm AS w FROM w JOIN nrm ON w.k = nrm.k),
    lexq AS (SELECT term, w FROM dvec WHERE k = 0),
    lexscore AS (
      SELECT d.k AS id, round(sum(d.w * q.w), 8) AS lex_cos
      FROM dvec d JOIN lexq q ON d.term = q.term
      WHERE d.k <> 0 GROUP BY d.k),
    lexrank AS (
      SELECT id, row_number() OVER (ORDER BY lex_cos DESC, id) AS lex_rn
      FROM lexscore),
    vq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    vecscore AS (
      SELECT e.vec_id AS id,
             round(list_dot_product(qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 8)
               + 0.0 AS vec_cos
      FROM embeddings e, vq WHERE e.vec_id <> 0),
    vecrank AS (
      SELECT id, row_number() OVER (ORDER BY vec_cos DESC, id) AS vec_rn
      FROM vecscore),
    fused AS (
      SELECT coalesce(l.id, v.id) AS id,
             cast(l.lex_rn as bigint) AS lex_rn,
             cast(v.vec_rn as bigint) AS vec_rn,
             round(coalesce(cast(1 as double) / ({RRF_C} + l.lex_rn), 0)
                   + coalesce(cast(1 as double) / ({RRF_C} + v.vec_rn), 0), 8) AS rrf
      FROM (SELECT * FROM lexrank WHERE lex_rn <= {HYBRID_POOL_K}) l
      FULL JOIN (SELECT * FROM vecrank WHERE vec_rn <= {HYBRID_POOL_K}) v
        ON l.id = v.id)
    SELECT id, lex_rn, vec_rn, rrf
    FROM fused ORDER BY rrf DESC, id LIMIT {HYBRID_K}
    """


@query("hybrid_rrf_related_docs", _hybrid_rrf_oracle())
def hybrid_rrf_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, more-like-this form: find documents related to
    doc 0 by BOTH signals — lexical (TF-IDF cosine against doc 0's
    fitted weight vector; no literal query string, the query IS corpus
    data) and dense (embedding cosine against vec 0) — then fuse the two
    rankings with reciprocal rank fusion:
    ``rrf(d) = Σ_signals 1/({RRF_C} + rank_signal(d))``, absent ranks
    contributing 0. RRF is the standard score-scale-free fusion for
    heterogeneous retrievers (lexical scores and cosines aren't
    comparable; ranks are).

    Scale: each signal is the already-audited retrieval shape (broadcast
    1-doc query → hash join → partial agg); per-signal pools truncate to
    {HYBRID_POOL_K} via the deterministic rounded-score order BEFORE
    ranking, so the rank windows see {HYBRID_POOL_K} rows, not |docs|;
    the fusion join is {HYBRID_POOL_K}×2 rows."""
    from pyspark.sql.window import Window

    from .vectors import dot, l2_norm_sq

    model = _docs_model(spark, sf_dir)
    dvec = model.weights
    lexq = dvec.where(F.col("doc_id") == 0).select("term", F.col("w").alias("qw"))
    lexscore = (
        dvec.where(F.col("doc_id") != 0)
        .join(F.broadcast(lexq), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("w") * F.col("qw")), 8).alias("lex_cos"))
    )
    lex_top = lexscore.orderBy(F.col("lex_cos").desc(), F.col("doc_id")).limit(
        HYBRID_POOL_K
    )
    lexrank = lex_top.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("lex_cos").desc(), F.col("doc_id")))
        .cast("long")
        .alias("lex_rn"),
    )

    e = load(spark, sf_dir, "embeddings")
    vq = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    cos = F.round(
        dot(F.col("qv"), F.col("ev"))
        / (F.sqrt(l2_norm_sq(F.col("qv"))) * F.sqrt(l2_norm_sq(F.col("ev")))),
        8,
    ) + F.lit(0.0)
    vecscore = (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ev"))
        .crossJoin(F.broadcast(vq))
        .select(F.col("vec_id").alias("id"), cos.alias("vec_cos"))
    )
    vec_top = vecscore.orderBy(F.col("vec_cos").desc(), F.col("id")).limit(HYBRID_POOL_K)
    vecrank = vec_top.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("vec_cos").desc(), F.col("id")))
        .cast("long")
        .alias("vec_rn"),
    )

    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("lex_rn")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("vec_rn")), F.lit(0.0)),
        8,
    )
    return (
        lexrank.join(vecrank, "id", "full")
        .select("id", "lex_rn", "vec_rn", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("id"))
        .limit(HYBRID_K)
    )


ROCCHIO_ALPHA = 1.0
ROCCHIO_BETA = 0.75
ROCCHIO_FEEDBACK_K = 5  # pseudo-relevant pool size


def _rocchio_oracle() -> str:
    toks = tokenize_query(SEARCH_QUERY)
    qvals = ", ".join(f"('{t}', {c}.0)" for t, c in toks.items())
    return f"""
    WITH {_tfidf_cte("documents", "doc_id", "text")},
    dvec AS (SELECT w.k AS doc_id, w.term, w_raw / nrm AS w FROM w JOIN nrm ON w.k = nrm.k),
    qtf AS (SELECT * FROM (VALUES {qvals}) AS t(term, qtf)),
    qw AS (SELECT qtf.term, qtf * idf AS qw_raw FROM qtf JOIN idf ON qtf.term = idf.term),
    qnrm AS (SELECT sqrt(sum(qw_raw * qw_raw)) AS qn FROM qw),
    qvec AS (SELECT term, qw_raw / qn AS qw FROM qw, qnrm),
    pool AS (
      SELECT doc_id FROM (
        SELECT d.doc_id, round(sum(d.w * q.qw), 8) AS s0,
               row_number() OVER (ORDER BY round(sum(d.w * q.qw), 8) DESC, d.doc_id) AS rn
        FROM dvec d JOIN qvec q ON d.term = q.term GROUP BY d.doc_id)
      WHERE rn <= {ROCCHIO_FEEDBACK_K}
    ),
    cent AS (
      SELECT term,
             cast(sum(cast(w as decimal(18,12))) as double) / {ROCCHIO_FEEDBACK_K} AS cw
      FROM dvec WHERE doc_id IN (SELECT doc_id FROM pool)
      GROUP BY term
    ),
    qexp AS (
      SELECT coalesce(q.term, c.term) AS term,
             coalesce(cast({ROCCHIO_ALPHA} as double) * q.qw, 0)
             + coalesce(cast({ROCCHIO_BETA} as double) * c.cw, 0) AS ew
      FROM qvec q FULL JOIN cent c ON q.term = c.term
    )
    SELECT d.doc_id, round(sum(d.w * e.ew), 8) AS score
    FROM dvec d JOIN qexp e ON d.term = e.term
    GROUP BY d.doc_id
    ORDER BY round(sum(d.w * e.ew), 8) DESC, d.doc_id
    LIMIT {SEARCH_K}
    """


@query("tfidf_search_rocchio", _rocchio_oracle())
def tfidf_search_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio): run the query, take the
    top-{ROCCHIO_FEEDBACK_K} docs as pseudo-relevant, expand the query
    vector toward their centroid (q' = α·q + β·centroid, α=1, β=0.75 —
    the classic SMART weights), rescore. Recovers vocabulary the user
    didn't type (synonyms that co-occur with the query terms in the
    feedback pool).

    Scale: both scoring passes are the audited broadcast-term-join
    shape; the feedback pool is {ROCCHIO_FEEDBACK_K} rows (semi join),
    the centroid is a decimal-exact sum over it, and the expanded query
    vector (|pool vocab| rows) broadcasts like the original."""
    model = _docs_model(spark, sf_dir)
    dvec = model.weights.select("doc_id", "term", "w")

    counts = tokenize_query(SEARCH_QUERY)
    qt = spark.createDataFrame([(t, float(c)) for t, c in counts.items()], ["term", "qtf"])
    q = qt.join(model.idf.drop("field"), "term").select(
        "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qn = q.groupBy().agg(F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw"))).alias("qn"))
    qvec = q.crossJoin(F.broadcast(qn)).select(
        "term", (F.col("qw_raw") / F.col("qn")).alias("qw")
    )

    scored0 = (
        dvec.join(F.broadcast(qvec), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("w") * F.col("qw")), 8).alias("s0"))
    )
    pool = scored0.orderBy(F.col("s0").desc(), F.col("doc_id")).limit(ROCCHIO_FEEDBACK_K)

    cent = (
        dvec.join(F.broadcast(pool.select("doc_id")), "doc_id", "left_semi")
        .groupBy("term")
        .agg(
            (
                F.sum(F.col("w").cast("decimal(18,12)")).cast("double")
                / ROCCHIO_FEEDBACK_K
            ).alias("cw")
        )
    )
    qexp = (
        qvec.join(cent, "term", "full")
        .select(
            "term",
            (
                F.coalesce(F.lit(ROCCHIO_ALPHA) * F.col("qw"), F.lit(0.0))
                + F.coalesce(F.lit(ROCCHIO_BETA) * F.col("cw"), F.lit(0.0))
            ).alias("ew"),
        )
    )
    final = (
        dvec.join(F.broadcast(qexp), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("w") * F.col("ew")), 8).alias("score"))
    )
    return final.orderBy(F.col("score").desc(), F.col("doc_id")).limit(SEARCH_K)


# --------------------------------------------------------------------------
# Retrieval evaluation: hit-rate / MRR over the generated eval set
# (EXT — the retrieval-quality metrics a RAG pipeline tracks; the
# reference's eval harness judges ANSWERS with an LLM
# (calculate_metrics.py), the retrieval layer itself is judged with
# exactly these rank metrics)
# --------------------------------------------------------------------------

EVAL_TOPK = 5


def _retrieval_ranked_cte() -> str:
    """The question-generation → tf-idf → ranked CTE chain shared by
    `_retrieval_eval_oracle` and `_ndcg_eval_oracle`, returned as an
    explicit head ending just before the metric-specific ``per_q``
    CTE (same explicit-head pattern as ``_winnow_fp_cte`` — callers
    append their own tail instead of textually splitting a sibling
    oracle string)."""
    return f"""
    WITH sampled AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5(concat('sample42|', cast(doc_id as varchar))), doc_id
      LIMIT 50
    ),
    questions AS (
      SELECT doc_id AS truth_id, cast(q.q_num as bigint) AS q_num,
             concat('Q', cast(q.q_num as varchar), ': what about ',
                    coalesce(regexp_extract(regexp_replace(text, '^\\s+', ''), '^\\S+'), ''), '? [',
                    substr(sha256(concat('evalq|42|', cast(doc_id as varchar), '|', text, '|',
                                         cast(q.q_num as varchar))), 1, 8), ']') AS question
      FROM sampled, unnest(generate_series(1, 3)) AS q(q_num)
    ),
    {_tfidf_cte("documents", "doc_id", "text")},
    qtok AS (
      SELECT truth_id, q_num,
             unnest(regexp_extract_all(lower(question), '{TOKEN_PATTERN}')) AS term
      FROM questions
    ),
    qtf AS (SELECT truth_id, q_num, term, count(*) AS qtf FROM qtok GROUP BY truth_id, q_num, term),
    qw AS (
      SELECT truth_id, q_num, qtf.term, qtf * idf AS qw_raw
      FROM qtf JOIN idf ON qtf.term = idf.term
    ),
    qnrm AS (
      SELECT truth_id, q_num, sqrt(sum(qw_raw * qw_raw)) AS qnrm
      FROM qw GROUP BY truth_id, q_num
    ),
    scored AS (
      SELECT qw.truth_id, qw.q_num, w.k AS doc_id,
             sum((w.w_raw / nrm.nrm) * (qw.qw_raw / qnrm.qnrm)) AS score
      FROM qw
      JOIN w ON qw.term = w.term
      JOIN nrm ON w.k = nrm.k
      JOIN qnrm ON qw.truth_id = qnrm.truth_id AND qw.q_num = qnrm.q_num
      GROUP BY qw.truth_id, qw.q_num, w.k
    ),
    ranked AS (
      SELECT truth_id, q_num, doc_id,
             row_number() OVER (
               PARTITION BY truth_id, q_num
               ORDER BY round(score, 8) DESC, doc_id ASC
             ) AS rank
      FROM scored
    ),
    """


def _retrieval_eval_oracle() -> str:
    """End-to-end in one SQL: sample docs → stub questions → tf-idf
    search of every question against the FULL corpus → hit@1/@5 and
    MRR@5 with truth = the doc the question was generated from.

    Float discipline: ranks come from round(score, 8) ordering (the
    repo-wide guard), reciprocal ranks are carried as the exact integer
    60/rank (rank ∈ 1..5 all divide 60), and the only double divisions
    are the two final metric ratios — engine-identical.
    """
    return f"""{_retrieval_ranked_cte()}per_q AS (
      SELECT truth_id, q_num,
             max(CASE WHEN doc_id = truth_id AND rank <= {EVAL_TOPK} THEN 1 ELSE 0 END) AS hit5,
             max(CASE WHEN doc_id = truth_id AND rank = 1 THEN 1 ELSE 0 END) AS hit1,
             max(CASE WHEN doc_id = truth_id AND rank <= {EVAL_TOPK}
                      THEN cast(60 / rank as bigint) ELSE 0 END) AS rr60
      FROM ranked
      WHERE rank <= {EVAL_TOPK}
      GROUP BY truth_id, q_num
    ),
    joined AS (
      SELECT q.truth_id, q.q_num,
             coalesce(hit5, 0) AS hit5, coalesce(hit1, 0) AS hit1,
             coalesce(rr60, 0) AS rr60
      FROM questions q
      LEFT JOIN per_q ON q.truth_id = per_q.truth_id AND q.q_num = per_q.q_num
    )
    SELECT cast(count(*) as bigint) AS n_questions,
           cast(sum(hit1) as bigint) AS n_hits_at1,
           cast(sum(hit5) as bigint) AS n_hits_at5,
           round(sum(hit5) / cast(count(*) as double), 8) AS hit_rate_at5,
           round(sum(rr60) / (60.0 * count(*)), 8) AS mrr_at5
    FROM joined
    """


@query("retrieval_eval_metrics", _retrieval_eval_oracle())
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation end-to-end: generate the eval
    question set (stub LLM over the deterministic 50-doc sample), run
    every question through the TF-IDF index of the FULL corpus via
    ``search_topk_df`` (the query workload is a DataFrame — no
    driver-side loop), and score hit@1, hit@5, MRR@5 against the
    question's source document.

    Scale: questions are a table (millions at production scale) — the
    search is ONE pass over the index joined with all query vectors at
    once; metrics are a map-side-combinable agg. Reciprocal ranks are
    carried as exact integers (60/rank) so MRR is engine-portable."""
    from ..operators.evalgen import generate_questions
    from ..operators.tfidf import search_topk_df

    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample42|"), F.col("doc_id").cast("string")))
    sampled = (
        d.select("doc_id", "text", key.alias("_k")).orderBy("_k", "doc_id").limit(50).drop("_k")
    )
    questions = generate_questions(sampled, seed=42).select(
        F.col("doc_id").alias("truth_id"), "q_num", "question"
    )

    model = _docs_model(spark, sf_dir)
    hits = search_topk_df(model, questions, ["truth_id", "q_num"], "question", k=EVAL_TOPK)

    is_truth = F.col("doc_id") == F.col("truth_id")
    per_q = hits.groupBy("truth_id", "q_num").agg(
        F.max(F.when(is_truth, 1).otherwise(0)).alias("hit5"),
        F.max(F.when(is_truth & (F.col("rank") == 1), 1).otherwise(0)).alias("hit1"),
        F.max(
            F.when(is_truth, (F.lit(60) / F.col("rank")).cast("long")).otherwise(0)
        ).alias("rr60"),
    )
    joined = questions.join(per_q, ["truth_id", "q_num"], "left").select(
        F.coalesce("hit5", F.lit(0)).alias("hit5"),
        F.coalesce("hit1", F.lit(0)).alias("hit1"),
        F.coalesce("rr60", F.lit(0)).alias("rr60"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_questions"),
        F.sum("hit1").cast("long").alias("n_hits_at1"),
        F.sum("hit5").cast("long").alias("n_hits_at5"),
        F.round(F.sum("hit5") / F.count(F.lit(1)).cast("double"), 8).alias("hit_rate_at5"),
        F.round(F.sum("rr60") / (F.lit(60.0) * F.count(F.lit(1))), 8).alias("mrr_at5"),
    )


# nDCG@k gains 1/log2(rank+1), PRE-ROUNDED to 8 dp and carried as exact
# decimals in both engines: log2 is irrational, and a libm ulp
# difference between engines must not decide an 8-dp hash comparison.
# With a single relevant doc per question, IDCG = 1 (ideal rank 1), so
# per-question nDCG@k = gain(rank of the truth doc), 0 on a miss.
NDCG_GAINS: dict[int, str] = {
    1: "1.00000000",
    2: "0.63092975",
    3: "0.50000000",
    4: "0.43067656",
    5: "0.38685281",
}


def _ndcg_eval_oracle() -> str:
    """Reuse the shared question-generation + tf-idf + ranking CTE
    chain (`_retrieval_ranked_cte`, the explicit head) and append the
    nDCG@5 metric tail."""
    head = _retrieval_ranked_cte()
    gain_case = " ".join(
        f"WHEN rank = {r} THEN cast({g} as decimal(10,8))" for r, g in NDCG_GAINS.items()
    )
    return f"""{head}per_q AS (
      SELECT truth_id, q_num,
             max(CASE WHEN doc_id = truth_id AND rank <= {EVAL_TOPK} THEN 1 ELSE 0 END) AS hit5,
             max(CASE WHEN doc_id = truth_id THEN (CASE {gain_case} ELSE cast(0 as decimal(10,8)) END)
                      ELSE cast(0 as decimal(10,8)) END) AS g
      FROM ranked
      WHERE rank <= {EVAL_TOPK}
      GROUP BY truth_id, q_num
    ),
    joined AS (
      SELECT q.truth_id, q.q_num,
             coalesce(hit5, 0) AS hit5,
             coalesce(g, cast(0 as decimal(10,8))) AS g
      FROM questions q
      LEFT JOIN per_q ON q.truth_id = per_q.truth_id AND q.q_num = per_q.q_num
    )
    SELECT cast(count(*) as bigint) AS n_questions,
           cast(sum(hit5) as bigint) AS n_hits_at5,
           round(cast(sum(g) as double) / count(*), 8) AS ndcg_at5
    FROM joined
    """


@query("ndcg_retrieval_eval", _ndcg_eval_oracle())
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{EVAL_TOPK} over the generated eval set — the
    position-weighted retrieval metric completing the
    ``retrieval_eval_metrics`` family (hit-rate/MRR): a truth doc at
    rank 1 scores 1, decaying by 1/log2(rank+1) down the list, so two
    systems with equal hit-rate separate by WHERE they rank the truth.
    Same scaffold as `retrieval_eval_metrics` (stub questions over the
    deterministic 50-doc sample → one-pass ``search_topk_df`` against
    the full-corpus TF-IDF index); gains are pre-rounded decimal
    constants (see ``NDCG_GAINS``) so both engines sum exact decimals —
    no cross-engine libm drift inside the aggregate. Scale: identical
    to the parent query — questions are a table, the search is one
    index pass, the metric a combinable agg."""
    from ..operators.evalgen import generate_questions
    from ..operators.tfidf import search_topk_df

    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample42|"), F.col("doc_id").cast("string")))
    sampled = (
        d.select("doc_id", "text", key.alias("_k")).orderBy("_k", "doc_id").limit(50).drop("_k")
    )
    questions = generate_questions(sampled, seed=42).select(
        F.col("doc_id").alias("truth_id"), "q_num", "question"
    )

    model = _docs_model(spark, sf_dir)
    hits = search_topk_df(model, questions, ["truth_id", "q_num"], "question", k=EVAL_TOPK)

    is_truth = F.col("doc_id") == F.col("truth_id")
    gain = F.lit(None).cast("decimal(10,8)")
    gain_expr = F.when(F.lit(False), gain)
    for r, g in NDCG_GAINS.items():
        gain_expr = gain_expr.when(F.col("rank") == r, F.lit(g).cast("decimal(10,8)"))
    gain_expr = gain_expr.otherwise(F.lit("0").cast("decimal(10,8)"))
    zero = F.lit("0").cast("decimal(10,8)")
    per_q = hits.groupBy("truth_id", "q_num").agg(
        F.max(F.when(is_truth, 1).otherwise(0)).alias("hit5"),
        F.max(F.when(is_truth, gain_expr).otherwise(zero)).alias("g"),
    )
    joined = questions.join(per_q, ["truth_id", "q_num"], "left").select(
        F.coalesce("hit5", F.lit(0)).alias("hit5"),
        F.coalesce("g", zero).alias("g"),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_questions"),
        F.sum("hit5").cast("long").alias("n_hits_at5"),
        F.round(F.sum("g").cast("double") / F.count(F.lit(1)), 8).alias("ndcg_at5"),
    )


# --------------------------------------------------------------------------
# RAG serving prep: per-query prompt/context assembly from top-k hits
# (reference: the agent's system prompt instructs citation links built
# as https://github.com/DataTalksClub/data-engineering-zoomcamp/blob/
# main/<source> — zc_agent/prompts/search_agent.md; the assembly itself
# is EXT: the data-side batch equivalent of what pydantic-ai does per
# conversation turn)
# --------------------------------------------------------------------------

CONTEXT_K = 3
_CITE_BASE = "https://github.com/DataTalksClub/data-engineering-zoomcamp/blob/main/"
_CTX_HEADER = (
    "Answer using only the context below. Cite sources as markdown links."
)


def _context_assembly_oracle() -> str:
    """Composes the shared batch-search head explicitly: the scored
    CTE chain + the top-k SELECT wrapped as a ``hits`` CTE — no
    textual splitting of a sibling oracle (VERDICT r10 item 2)."""
    qvals = ", ".join(f"({qid}, '{q}')" for qid, q in BATCH_QUERIES)
    return f"""
    {_batch_search_scored_cte()},
    hits AS (
      {_batch_search_topk_select(CONTEXT_K)}
    ),
    ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM hits
    ),
    ctx AS (
      SELECT r.query_id,
             string_agg(
               concat('[', cast(r.rn as varchar), '] [', d.source, '](',
                      '{_CITE_BASE}', d.source, ')', chr(10), d.text),
               concat(chr(10), chr(10)) ORDER BY r.rn
             ) AS context
      FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
      GROUP BY r.query_id
    )
    SELECT q.query_id,
           concat('{_CTX_HEADER}', chr(10), chr(10), ctx.context,
                  chr(10), chr(10), 'Question: ', q.qtext) AS prompt
    FROM (SELECT cast(query_id as bigint) AS query_id, qtext
          FROM (VALUES {qvals}) AS t(query_id, qtext)) q
    JOIN ctx ON q.query_id = ctx.query_id
    """


@query("rag_context_assembly", _context_assembly_oracle())
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch prompt assembly: top-{CONTEXT_K} hits per query → numbered
    context blocks with the reference's GitHub citation-link rule →
    one LLM-ready prompt string per query. Pure column arithmetic
    (collect_list of (rank, block) structs, array_sort, array_join) —
    the string assembly is deterministic, so the whole serving-prep
    stage is value-checked.

    Scale: hits are |Q|·k rows (tiny) → broadcast into the documents
    join; the assembly groupBy shuffles only assembled blocks, never
    the corpus."""
    docs = load(spark, sf_dir, "documents")
    model = _docs_model(spark, sf_dir)
    hits = search_topk_batch(spark, model, BATCH_QUERIES, k=CONTEXT_K)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 8).desc(), F.col("doc_id").asc()
    )
    ranked = hits.select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        F.row_number().over(w).alias("rn"),
    )
    blocks = F.broadcast(ranked).join(docs.select("doc_id", "source", "text"), "doc_id").select(
        "query_id",
        F.struct(
            F.col("rn").alias("rn"),
            F.concat(
                F.lit("["), F.col("rn").cast("string"), F.lit("] ["),
                F.col("source"), F.lit("]("), F.lit(_CITE_BASE), F.col("source"),
                F.lit(")\n"), F.col("text"),
            ).alias("block"),
        ).alias("rb"),
    )
    ctx = blocks.groupBy("query_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("rb")), lambda x: x["block"]),
            "\n\n",
        ).alias("context")
    )
    queries_df = spark.createDataFrame(BATCH_QUERIES, ["query_id", "qtext"]).select(
        F.col("query_id").cast("long").alias("query_id"), "qtext"
    )
    return F.broadcast(queries_df).join(ctx, "query_id").select(
        "query_id",
        F.concat(
            F.lit(_CTX_HEADER), F.lit("\n\n"), F.col("context"),
            F.lit("\n\n"), F.lit("Question: "), F.col("qtext"),
        ).alias("prompt"),
    )


# --------------------------------------------------------------------------
# Two-stage retrieval: lexical pool → cross-encoder-stub rerank
# --------------------------------------------------------------------------

RERANK_POOL_K = 20
RERANK_K = 5


def _rerank_oracle() -> str:
    qvals = ", ".join(f"('{t}', {c}.0)" for t, c in tokenize_query(SEARCH_QUERY).items())
    xenc = (
        "cast(concat('0x', substr(sha256(concat('xenc|', "
        f"'{SEARCH_QUERY}', '|', cast(doc_id as varchar), '|', text)), 1, 8)) as bigint) "
        "/ cast(4294967296 as double)"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    ndocs AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1 AS idf FROM dfreq, ndocs),
    w AS (SELECT doc_id, tf.term, tf * idf AS w_raw FROM tf JOIN idf ON tf.term = idf.term),
    nrm AS (SELECT doc_id, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY doc_id),
    dvec AS (SELECT w.doc_id, w.term, w_raw / nrm AS w FROM w JOIN nrm ON w.doc_id = nrm.doc_id),
    qtf AS (SELECT * FROM (VALUES {qvals}) AS t(term, qtf)),
    qw AS (SELECT qtf.term, qtf * idf AS qw_raw FROM qtf JOIN idf ON qtf.term = idf.term),
    qnrm AS (SELECT sqrt(sum(qw_raw * qw_raw)) AS qnrm FROM qw),
    qvec AS (SELECT term, qw_raw / qnrm AS qw FROM qw, qnrm),
    pool AS (
      SELECT d.doc_id, round(sum(d.w * q.qw), 8) AS lex_score
      FROM dvec d JOIN qvec q ON d.term = q.term
      GROUP BY d.doc_id
      ORDER BY round(sum(d.w * q.qw), 8) DESC, d.doc_id
      LIMIT {RERANK_POOL_K}
    ),
    scored AS (
      SELECT p.doc_id, p.lex_score, round({xenc}, 8) AS xenc_score
      FROM pool p JOIN documents USING (doc_id)
    )
    SELECT doc_id, lex_score, xenc_score, cast(rn as bigint) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY xenc_score DESC, doc_id) AS rn
      FROM scored) WHERE rn <= {RERANK_K}
    """


@query("rerank_stub_topk", _rerank_oracle())
def rerank_stub_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: cheap lexical top-{RERANK_POOL_K} pool,
    then an (Arrow-batched, stubbed) cross-encoder rescores the pool
    and keeps top-{RERANK_K}. The expensive scorer only ever sees the
    pool — the contract that makes model-based reranking affordable at
    any corpus size. Stub is sha-templated so the stage value-checks;
    a real model drops into the same ``mapInPandas`` batch loop."""
    from ..operators.rerank import rerank_stub

    docs = load(spark, sf_dir, "documents")
    model = _docs_model(spark, sf_dir)
    pool = search_topk(spark, model, SEARCH_QUERY, k=RERANK_POOL_K).select(
        "doc_id", F.round("score", 8).alias("lex_score")
    )
    cands = pool.join(docs.select("doc_id", "text"), "doc_id")
    scored = rerank_stub(cands, SEARCH_QUERY, key_col="doc_id", text_col="text").select(
        "doc_id", "lex_score", F.round("xenc_score", 8).alias("xenc_score")
    )
    w = Window.orderBy(F.col("xenc_score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= RERANK_K)
    )


TOK_CHUNK_SIZE = 64
TOK_CHUNK_STEP = 32


@query(
    "chunk_tokens_windows",
    f"""
    SELECT doc_id, lang,
           cast(s as bigint) AS tok_start,
           array_to_string(t[cast(s as int) + 1 : cast(s as int) + {TOK_CHUNK_SIZE}], ' ') AS chunk,
           cast(least({TOK_CHUNK_SIZE}, len(t) - s) as bigint) AS n_tokens
    FROM (
      SELECT doc_id, lang, t,
             unnest({sliding_window_starts_sql('len(t)', TOK_CHUNK_SIZE, TOK_CHUNK_STEP)}) AS s
      FROM (SELECT doc_id, lang, regexp_extract_all(text, '\\w\\w+') AS t FROM documents)
      WHERE len(t) > 0
    )
    """,
)
def chunk_tokens_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1's sliding-window semantics at TOKEN granularity ({TOK_CHUNK_SIZE}
    tokens every {TOK_CHUNK_STEP}) — the chunk-budget-in-tokens variant an
    LLM ingest pipeline actually runs. Shares the char chunker's exact
    closed-form break rule (operators/chunker.py::_last_start) and its
    map-only explode plan; reference semantics zc_agent/load_data.py:13-25
    transposed from chars to the token sequence."""
    from ..operators.chunker import chunk_tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return chunk_tokens(
        docs, text_col="text", size=TOK_CHUNK_SIZE, step=TOK_CHUNK_STEP
    ).select("doc_id", "lang", F.col("tok_start").cast("long").alias("tok_start"), "chunk", "n_tokens")


PRUNE_MIN_DF = 2  # drop hapax terms
PRUNE_MAX_DF = 0.5  # drop terms in more than half the chunks
# The pruned search needs a query with at least one SURVIVING term:
# every term of the shared SEARCH_QUERY is stop-like on the synthetic
# closed vocabulary (df > max_df·n for all four), which made this
# query vacuously return 0 rows at every SF (round-7 signal audit).
# 'dup' is the corpus's one genuinely rare content word — the pruned
# index drops the common terms and matches on it, which is exactly
# the pruning semantics worth demonstrating.
PRUNED_QUERY = "dup hash join"


@query(
    "tfidf_search_pruned",
    _search_oracle(PRUNED_QUERY, SEARCH_K, min_df=PRUNE_MIN_DF, max_df=PRUNE_MAX_DF),
)
def tfidf_search_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over a min_df/max_df-pruned vocabulary — sklearn
    ``TfidfVectorizer(min_df=2, max_df=0.5)`` semantics (prune BEFORE
    idf and norms, so document vectors renormalize over the surviving
    terms). Hapax terms ~halve the index; stop-like terms are the
    hottest join keys — pruning both is the standard scale lever for
    a lexical index, and this query pins that it doesn't change
    semantics beyond the documented vocabulary cut: the query's common
    terms prune away and the rare term drives the ranking."""
    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    model = build_tfidf(
        chunks,
        key_cols=["doc_id", "start"],
        text_fields=["content"],
        min_df=PRUNE_MIN_DF,
        max_df=PRUNE_MAX_DF,
    )
    hits = search_topk(spark, model, PRUNED_QUERY, k=SEARCH_K)
    return hits.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.round("score", 8).alias("score"),
    )


MISSPELLED_QUERY_TERMS = ("sparkk", "joiin", "windoww", "hashh")
SPELL_MAX_DIST = 2
SPELL_TOP = 3


def _spell_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in MISSPELLED_QUERY_TERMS)
    return f"""
    WITH vocab AS (
      SELECT term, count(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
            FROM documents)
      GROUP BY term),
    q AS (SELECT * FROM (VALUES {terms}) AS t(qterm)),
    cand AS (
      SELECT qterm, term AS suggestion, freq,
             cast(levenshtein(qterm, term) as bigint) AS dist
      FROM q, vocab
      WHERE levenshtein(qterm, term) <= {SPELL_MAX_DIST})
    SELECT qterm, suggestion, dist, cast(freq as bigint) AS freq,
           cast(rn as bigint) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY qterm
                                       ORDER BY dist, freq DESC, suggestion) AS rn
          FROM cand)
    WHERE rn <= {SPELL_TOP}
    """


@query("spell_suggest_terms", _spell_oracle())
def spell_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean: for each out-of-vocabulary query term, the top
    {SPELL_TOP} corpus-vocabulary terms by (edit distance, frequency)
    — the query-assist layer in front of lexical search.

    Scale shape: the vocabulary (|distinct terms|) is the small side —
    it broadcasts against the query terms; candidate generation is
    distance-bounded. At web-corpus vocab sizes the same query runs
    over a deletes-index (SymSpell) instead of the direct product —
    the ranking contract stays identical."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    q = spark.createDataFrame([(t,) for t in MISSPELLED_QUERY_TERMS], ["qterm"])
    cand = (
        F.broadcast(q)
        .crossJoin(vocab)
        .withColumn("dist", F.levenshtein("qterm", "term").cast("long"))
        .where(F.col("dist") <= SPELL_MAX_DIST)
    )
    w = Window.partitionBy("qterm").orderBy("dist", F.desc("freq"), "term")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SPELL_TOP)
        .select(
            "qterm",
            F.col("term").alias("suggestion"),
            "dist",
            F.col("freq").cast("long").alias("freq"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def _facet_oracle(query_text: str) -> str:
    toks = tokenize_query(query_text)
    qvals = ", ".join(f"('{t}')" for t in toks)
    return f"""
    WITH q AS (SELECT * FROM (VALUES {qvals}) AS t(term)),
    tok AS (
      SELECT doc_id, lang, source,
             unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
      FROM documents),
    matches AS (
      SELECT DISTINCT doc_id, lang, source FROM tok JOIN q USING (term))
    SELECT lang, source,
           cast(count(*) as bigint) AS n_matching_docs
    FROM matches GROUP BY lang, source
    """


@query("search_facet_counts", _facet_oracle(SEARCH_QUERY))
def search_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facets for the flagship query: how the FULL match set (any query
    term present) distributes over (lang, source) — the sidebar counts
    a search UI renders next to the top-k hits. Match-set semantics,
    not top-k: facets must reflect everything the filter would return.

    Shape: broadcast the query terms, semi-join-style distinct on
    doc_id, then a combinable group count — the facet pass costs one
    scan regardless of how many facet dimensions ride along."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term"),
    )
    q = spark.createDataFrame([(t,) for t in tokenize_query(SEARCH_QUERY)], ["term"])
    matches = toks.join(F.broadcast(q), "term").select("doc_id", "lang", "source").distinct()
    return matches.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_matching_docs")
    )


MMR_LAMBDA = 0.7
MMR_POOL = 10
MMR_SELECT = 3


def _mmr_oracle(query_text: str) -> str:
    """Unrolled greedy MMR over the top-{MMR_POOL} pool. Pairwise sims
    multiply 8dp-quantized weights and accumulate exact decimals, so
    both engines compare identical MMR scores at every step."""
    pool_sql = _search_oracle(query_text, MMR_POOL)
    step_sel = []
    prev = "sel1"
    for k in (2, 3):
        step_sel.append(f"""
    ms{k} AS (
      SELECT p.doc_id, p.start, p.rel,
             coalesce(max(s.sim), 0.0) AS maxsim
      FROM pool p
      LEFT JOIN sims s ON s.a_doc = p.doc_id AND s.a_start = p.start
       AND EXISTS (SELECT 1 FROM selected{k - 1} q
                   WHERE q.doc_id = s.b_doc AND q.start = s.b_start)
      WHERE NOT EXISTS (SELECT 1 FROM selected{k - 1} q
                        WHERE q.doc_id = p.doc_id AND q.start = p.start)
      GROUP BY p.doc_id, p.start, p.rel),
    sel{k} AS (
      SELECT doc_id, start, rel,
             round({MMR_LAMBDA} * rel - {1 - MMR_LAMBDA} * maxsim, 8) AS mmr
      FROM ms{k}
      ORDER BY round({MMR_LAMBDA} * rel - {1 - MMR_LAMBDA} * maxsim, 8) DESC, doc_id, start
      LIMIT 1),
    selected{k} AS (SELECT doc_id, start FROM selected{k - 1}
                    UNION ALL SELECT doc_id, start FROM sel{k})""")
        prev = f"sel{k}"
    steps_sql = ",".join(step_sel)
    finals = " UNION ALL ".join(
        f"SELECT cast({k} as bigint) AS step, doc_id, start, rel, mmr FROM sel{k}"
        for k in range(1, MMR_SELECT + 1)
    )
    return f"""
    WITH pool AS (
      SELECT doc_id, start, score AS rel FROM ({pool_sql})
    ),
    dvec_pool AS (
      SELECT t.doc_id, t.start, t.term, round(t.w, 8) AS wq FROM (
        WITH x AS (SELECT 1)
        {_search_dvec_sql()}
      ) t JOIN pool p ON t.doc_id = p.doc_id AND t.start = p.start
    ),
    sims AS (
      SELECT a.doc_id AS a_doc, a.start AS a_start,
             b.doc_id AS b_doc, b.start AS b_start,
             cast(sum(cast(a.wq * b.wq as decimal(28,16))) as double) AS sim
      FROM dvec_pool a JOIN dvec_pool b
        ON a.term = b.term AND (a.doc_id, a.start) <> (b.doc_id, b.start)
      GROUP BY 1, 2, 3, 4),
    sel1 AS (
      SELECT doc_id, start, rel, round({MMR_LAMBDA} * rel, 8) AS mmr
      FROM pool ORDER BY rel DESC, doc_id, start LIMIT 1),
    selected1 AS (SELECT doc_id, start FROM sel1),
    {steps_sql}
    {finals}
    """


def _search_dvec_sql() -> str:
    """The L2-normalized chunk weight table (same CTE chain as
    ``_search_oracle`` up to dvec), emitted as a standalone SELECT."""
    return f"""
    SELECT w.doc_id, w.start, w.term, w_raw / nrm AS w FROM (
      WITH chunks AS (
        SELECT doc_id, cast(start as bigint) AS start,
               substr(text, cast(start as int) + 1, {CHUNK_SIZE}) AS content
        FROM (SELECT doc_id, text,
                     unnest({sliding_window_starts_sql('length(text)', CHUNK_SIZE, CHUNK_STEP)}) AS start
              FROM documents WHERE length(text) > 0)),
      tok AS (
        SELECT doc_id, start, unnest(regexp_extract_all(lower(content), '{TOKEN_PATTERN}')) AS term
        FROM chunks),
      tf AS (SELECT doc_id, start, term, count(*) AS tf FROM tok GROUP BY doc_id, start, term),
      ndocs AS (SELECT count(*) AS n_docs FROM chunks),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1 AS idf FROM dfreq, ndocs),
      w AS (SELECT doc_id, start, tf.term, tf * idf AS w_raw FROM tf JOIN idf ON tf.term = idf.term),
      nrm AS (SELECT doc_id, start, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY doc_id, start)
      SELECT w.doc_id, w.start, w.term, w.w_raw, nrm.nrm
      FROM w JOIN nrm ON w.doc_id = nrm.doc_id AND w.start = nrm.start
    ) w(doc_id, start, term, w_raw, nrm)
    """


@query("mmr_diversified_topk", _mmr_oracle(SEARCH_QUERY))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    re-selection of {MMR_SELECT} results from the top-{MMR_POOL} pool,
    trading relevance against redundancy (λ={MMR_LAMBDA}) — the
    diversification layer RAG context assembly wants when the top hits
    are near-duplicate chunks.

    Pure dataflow: pairwise pool similarities are one term-equi-join
    over the pool's weight rows (pool², but pool is {MMR_POOL}), each
    greedy step is a window argmax — no driver loop, everything
    composes lazily. Weights quantize to 8dp before the sim products
    and the products accumulate as exact decimals, so both engines
    rank identical MMR scores at every step."""
    model = _chunks_model(spark, sf_dir)
    pool = (
        search_topk(spark, model, SEARCH_QUERY, k=MMR_POOL)
        .select("doc_id", F.col("start").cast("long").alias("start"), F.round("score", 8).alias("rel"))
    )
    from ..operators.scale import durable_checkpoint

    pool = durable_checkpoint(pool)

    pw = model.weights.join(pool.select("doc_id", "start"), ["doc_id", "start"]).select(
        "doc_id", "start", "term", F.round("w", 8).alias("wq")
    )
    a = pw.select(
        F.col("doc_id").alias("a_doc"), F.col("start").alias("a_start"), "term",
        F.col("wq").alias("wa"),
    )
    b = pw.select(
        F.col("doc_id").alias("b_doc"), F.col("start").alias("b_start"), "term",
        F.col("wq").alias("wb"),
    )
    sims = (
        a.join(b, "term")
        .where((F.col("a_doc") != F.col("b_doc")) | (F.col("a_start") != F.col("b_start")))
        .groupBy("a_doc", "a_start", "b_doc", "b_start")
        .agg(F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,16)")).cast("double").alias("sim"))
    )
    sims = durable_checkpoint(sims)

    lam = F.lit(MMR_LAMBDA)
    one_minus = F.lit(1 - MMR_LAMBDA)

    sel = pool.orderBy(F.desc("rel"), "doc_id", "start").limit(1).select(
        "doc_id", "start", "rel", F.round(lam * F.col("rel"), 8).alias("mmr")
    )
    selected = sel.select("doc_id", "start")
    out = [sel.withColumn("step", F.lit(1).cast("long"))]
    for k in range(2, MMR_SELECT + 1):
        cand = pool.join(selected, ["doc_id", "start"], "left_anti")
        ms = (
            cand.join(
                sims.join(
                    selected.select(
                        F.col("doc_id").alias("b_doc"), F.col("start").alias("b_start")
                    ),
                    ["b_doc", "b_start"],
                ).select(
                    F.col("a_doc").alias("doc_id"), F.col("a_start").alias("start"), "sim"
                ),
                ["doc_id", "start"],
                "left",
            )
            .groupBy("doc_id", "start", "rel")
            .agg(F.coalesce(F.max("sim"), F.lit(0.0)).alias("maxsim"))
        )
        step_sel = (
            ms.select(
                "doc_id", "start", "rel",
                F.round(lam * F.col("rel") - one_minus * F.col("maxsim"), 8).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), "doc_id", "start")
            .limit(1)
        )
        step_sel = durable_checkpoint(step_sel)
        out.append(step_sel.withColumn("step", F.lit(k).cast("long")))
        selected = selected.unionByName(step_sel.select("doc_id", "start"))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select("step", "doc_id", "start", "rel", "mmr")


@query("tfidf_sharded_merge_search", _search_oracle(SEARCH_QUERY, SEARCH_K))
def tfidf_sharded_merge_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed INDEX-BUILD lifecycle (§2.4 X1 at fleet scale):
    chunk the corpus, split it into two doc-disjoint shards, tokenize
    each shard independently into a posting fragment
    (``shard_tf_fragment``), then merge the fragments into ONE exact
    global index (``merge_tf_fragments``) and serve the flagship
    query from it. The oracle is the SAME single-build search SQL —
    passing pins that shard-then-merge is indistinguishable from
    building on the full corpus, which is the property that lets 100 TB
    index builds run as independent per-shard jobs (tokenize once,
    merge cheap fragments) instead of one monolithic pass."""
    from ..operators.tfidf import merge_tf_fragments, shard_tf_fragment

    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    chunks = chunk_documents(docs, text_col="content", size=CHUNK_SIZE, step=CHUNK_STEP)
    frags = [
        shard_tf_fragment(
            chunks.where(F.pmod(F.col("doc_id"), F.lit(2)) == i),
            ["doc_id", "start"],
            "content",
        )
        for i in (0, 1)
    ]
    model = merge_tf_fragments(frags, ["doc_id", "start"], "content")
    hits = search_topk(spark, model, SEARCH_QUERY, k=SEARCH_K)
    return hits.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.round("score", 8).alias("score"),
    )
