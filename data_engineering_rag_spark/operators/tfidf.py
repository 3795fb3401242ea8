"""TF-IDF index build + top-k lexical search (SURVEY.md §2.4 X1/X2).

Parity target: the reference's query engine is ``minsearch`` (call sites
``zc_agent/load_data.py:53-57``, ``zc_agent/search_tools.py:7-17``) —
per-text-field sklearn ``TfidfVectorizer`` + cosine similarity, summed
over fields with optional boosts, top ``num_results``.

Documented engine semantics (sklearn conventions, reproduced in exact
SQL-expressible arithmetic so the DuckDB oracle can verify):

- tokens: maximal runs matching ``\\w\\w+`` on the lowercased text
  (sklearn token pattern ``(?u)\\b\\w\\w+\\b``; maximal-match extraction
  makes the boundaries redundant). ASCII ``\\w`` — documented deviation
  from sklearn's unicode ``\\w``, irrelevant for ASCII corpora.
- tf: raw term count per (doc, term).
- idf: ``ln((1 + N) / (1 + df)) + 1`` (smooth_idf).
- doc vector: tf·idf, L2-normalized per doc.
- query vector: same transform on the query text (OOV terms drop out via
  the idf join, matching sklearn's fitted-vocabulary behavior).
- score(q, d) = Σ_fields boost_f · cosine_f(q, d); top-k by score desc,
  doc-key asc tie-break (deterministic; minsearch's argsort tie order is
  unspecified).

Scale design: the index IS a DataFrame — ``(field, term, <keys>, w)``
with L2-normalized weights — partitionable by term, which is exactly the
join key of the scoring query. A search reads only the fitted tables:
the query terms enter as a literal ``isin`` filter and a term → count
map, the filtered idf rows give the query vector (a handful of rows),
and that vector is broadcast into the filtered weights (map-side, no
shuffle of the big index) → partial aggregation per doc key →
``TakeOrderedAndProject`` for global top-k. At 100 TB the only wide op
in the build is the (term) and (doc) aggregations, both map-side
combinable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOKEN_PATTERN = r"\w\w+"
# sklearn's token pattern is (?u)\b\w\w+\b — unicode \w. Java's \w is
# ASCII-only, so the unicode mode spells the class out with \p{} escapes
# (supported by Java regex AND RE2/DuckDB, letting oracles share it).
# \p{M} combining marks are excluded (Python \w includes them for NFD
# text) — documented approximation, exact for NFC-normalized corpora.
UNICODE_TOKEN_PATTERN = r"[\p{L}\p{N}_]{2,}"

_TOKEN_PATTERNS = {"ascii": TOKEN_PATTERN, "unicode": UNICODE_TOKEN_PATTERN}


def token_pattern_for(token_mode: str) -> str:
    """Spark/DuckDB-shared regex for a tokenizer mode ('ascii'|'unicode')."""
    try:
        return _TOKEN_PATTERNS[token_mode]
    except KeyError:
        raise ValueError(
            f"token_mode must be one of {sorted(_TOKEN_PATTERNS)}, got {token_mode!r}"
        ) from None


@dataclass
class TfidfModel:
    """A fitted index: one weight table + one idf table per text field.

    With ``persist=True`` the tables are cached (MEMORY_AND_DISK) for
    the build-once/score-many lifecycle — exactly the reference's
    ``Index.fit`` → repeated ``search`` loop. Call ``unpersist`` when
    done: it also releases the per-field tf tables ``build_tfidf``
    persists with or without ``persist=True``."""

    weights: DataFrame  # field, <key_cols...>, term, w  (L2-normalized)
    idf: DataFrame  # field, term, idf
    key_cols: list[str]
    text_fields: list[str]
    token_mode: str = "ascii"  # query-side tokenization must match the build
    tf_tables: tuple[DataFrame, ...] = ()  # per-field tf caches the weights read

    def unpersist(self) -> None:
        for table in (self.weights, self.idf, *self.tf_tables):
            table.unpersist()


def _tokens(
    df: DataFrame, key_cols: list[str], field: str, pattern: str = TOKEN_PATTERN
) -> DataFrame:
    return df.select(
        *key_cols,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(field)), F.lit(pattern), F.lit(0))
        ).alias("term"),
    )


def _term_frequencies(
    df: DataFrame, key_cols: list[str], field: str, pattern: str = TOKEN_PATTERN
) -> DataFrame:
    """Per-(doc, term) counts WITHOUT shuffling the token stream: sort
    the row's token array, find run starts, emit (term, run length) —
    a narrow O(n log n)-per-row map that replaces the classic
    explode → groupBy(doc, term) whose shuffle moves every token
    occurrence over the wire. Identical output (pinned in
    tests/test_tfidf.py); ~1.7× faster on the sf0.1 corpus, and at
    100 TB it removes the widest shuffle of the index build. Memory is
    bounded by the already-materialized token array (regexp_extract_all
    builds it either way)."""
    base = df.select(
        *key_cols,
        F.array_sort(
            F.regexp_extract_all(F.lower(F.col(field)), F.lit(pattern), F.lit(0))
        ).alias("t"),
    ).where(F.size("t") > 0)
    runs = base.withColumn(
        "starts",
        F.expr("filter(sequence(1, size(t)), i -> i = 1 OR element_at(t, i) <> element_at(t, i - 1))"),
    )
    return runs.select(
        *key_cols,
        F.expr(
            """explode(transform(sequence(1, size(starts)),
                 j -> struct(element_at(t, element_at(starts, j)) AS term,
                             cast(IF(j = size(starts), size(t) + 1,
                                     element_at(starts, j + 1)) - element_at(starts, j) as bigint) AS tf)))"""
        ).alias("kv"),
    ).select(*key_cols, F.col("kv.term").alias("term"), F.col("kv.tf").alias("tf"))


def build_tfidf(
    df: DataFrame,
    key_cols: list[str],
    text_fields: list[str],
    persist: bool = False,
    token_mode: str = "ascii",
    min_df: int = 1,
    max_df: float = 1.0,
) -> TfidfModel:
    """Fit one TF-IDF model per text field over ``df``.

    Everything is declarative: tokenize (narrow) → tf groupBy → df/idf
    groupBy → window-free norm join. Catalyst plans map-side partial
    aggregation for both groupBys.

    ``token_mode="unicode"`` switches the tokenizer to the
    unicode-aware pattern (closes the sklearn ``(?u)\\w`` parity gap for
    multilingual corpora); the fitted model remembers the mode so query
    tokenization stays consistent.

    ``min_df``/``max_df`` prune the vocabulary with sklearn's
    ``TfidfVectorizer`` semantics: keep terms appearing in at least
    ``min_df`` docs (absolute count) and at most ``max_df``·n_docs
    (proportion). Pruning happens BEFORE idf/norms, so document vectors
    are L2-normalized over the surviving vocabulary only — exactly
    sklearn's behavior. At scale this is also the perf lever: dropping
    hapax terms (min_df=2) typically halves the index; dropping
    stop-like terms (max_df<1) removes the highest-fan-out join keys.
    """
    if min_df < 1:
        raise ValueError("min_df must be >= 1 (absolute document count)")
    if not (0.0 < max_df <= 1.0):
        raise ValueError("max_df must be in (0, 1] (proportion of docs)")
    pattern = token_pattern_for(token_mode)
    # r16 OPTIMIZATION: the tokenize pass is the model build's heavy
    # map stage, and a single-file corpus gives it ONE scan partition
    # (one row group = one split), serializing the regex+array_sort
    # run-length kernel to one core. Identity on multi-file inputs.
    from .scale import ensure_scan_parallelism

    # The corpus count is consumed by dfreq's max_df filter AND by idf,
    # and idf is consumed by the weight AND query-vector paths —
    # un-materialized, each consumer re-ran the whole corpus count (4-6
    # extra corpus passes in the r16 before-plans). r16 materialized it
    # as a 1-row checkpoint; r17 collects the scalar to the driver
    # instead (guide §2.4): one count job either way, but the literal
    # removes every crossJoin+BroadcastExchange the 1-row table needed
    # (4 broadcast exchanges in the tfidf_search_topk plan). NOTE the
    # build therefore EXECUTES Spark jobs at construction time (this
    # count; plus the tf materialization below) — build_tfidf is a FIT,
    # not a lazy plan; callers that only want a plan shape must not
    # call it (ADVICE r16 documented contract).
    n_docs_val = df.count()
    df = ensure_scan_parallelism(df, label="tfidf corpus scan")
    from pyspark import StorageLevel

    per_field = []
    idf_tables = []
    tf_tables = []
    for field in text_fields:
        # Narrow per-row run-length counting — the raw token stream
        # never shuffles. The repartition on the doc key pre-satisfies
        # the L2 norm window's partitioning, and the tf table is
        # materialized ONCE across its 4-10 consumers — ReuseExchange
        # was NOT deduplicating them in practice (column-pruning
        # differences between dfreq/w/qvec made the exchange subtrees
        # non-identical: the tfidf_search_topk r16 before-plan carries
        # 10 `Scan parquet` nodes, i.e. the chunk+tokenize pipeline ran
        # up to 10x per query). Wire bytes: |distinct (doc, term)| rows
        # instead of every token occurrence.
        #
        # r17: lazy persist(), NOT the r16 eager durable_checkpoint —
        # the sf10 interleaved A/B (plans/r17/ab_tfidf_sf10.json)
        # measured the checkpoint's write+read barrier at 2.2-2.5x the
        # persist/no-mat wall once the tf table is big (search 28.9 s
        # ckpt vs 11.6 s persist; multiquery 9.1 vs 7.5), while at
        # sf0.1 the three shapes sit within ~0.4 s. One tokenize pass,
        # spillable blocks, no construction-time barrier — the shape
        # that survives 100 TB, where re-tokenizing the corpus per
        # consumer (no-mat) stops being cheap the moment the input
        # outgrows the page cache.
        tf = _term_frequencies(df, key_cols, field, pattern).repartition(
            *[F.col(c) for c in key_cols]
        ).persist(StorageLevel.MEMORY_AND_DISK)
        tf_tables.append(tf)
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        # n_docs enters as a LITERAL: same long arithmetic as the old
        # 1-row-table crossJoin ((1 + N) and max_df·N over int64), so
        # every idf double is bit-identical — just no broadcast joins.
        dfreq = dfreq.where(
            (F.col("df") >= min_df) & (F.col("df") <= max_df * F.lit(n_docs_val))
        )
        idf = dfreq.select(
            F.lit(field).alias("field"),
            "term",
            (F.log((F.lit(1) + F.lit(n_docs_val)) / (F.lit(1) + F.col("df"))) + F.lit(1)).alias(
                "idf"
            ),
        )
        w = (
            tf.join(F.broadcast(idf.drop("field")), "term")
            .select(*key_cols, "term", (F.col("tf") * F.col("idf")).alias("w_raw"))
        )
        # L2 norm as a window over the doc key: one shuffle, no
        # groupBy+self-join round trip (same math, half the exchanges).
        doc_w = Window.partitionBy(*key_cols)
        weights = w.select(
            F.lit(field).alias("field"),
            *key_cols,
            "term",
            (
                F.col("w_raw")
                / F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw")).over(doc_w))
            ).alias("w"),
        )
        per_field.append(weights)
        idf_tables.append(idf)

    weights_all = per_field[0]
    for other in per_field[1:]:
        weights_all = weights_all.unionByName(other)
    idf_all = idf_tables[0]
    for other in idf_tables[1:]:
        idf_all = idf_all.unionByName(other)
    if persist:
        # Serve-many-queries lifecycle (the reference's fit→search loop):
        # materialize the index once, every search is then a broadcast
        # join against cached blocks. Single-shot pipelines skip this —
        # materialization costs more than the lazy plan.
        weights_all = weights_all.persist()
        idf_all = idf_all.persist()
    return TfidfModel(
        weights=weights_all,
        idf=idf_all,
        key_cols=key_cols,
        text_fields=text_fields,
        token_mode=token_mode,
        tf_tables=tuple(tf_tables),
    )


def tokenize_query(query: str, token_mode: str = "ascii") -> dict[str, int]:
    """Driver-side tokenization of a literal query string — same token
    class as the corpus path; a query is one tiny string, not
    distributed data. Python's ``\\w`` is unicode by default, so ascii
    mode pins ``re.ASCII`` to match Java's ASCII ``\\w``; unicode mode
    uses the default (≈ the ``\\p{{L}}\\p{{N}}_`` corpus class)."""
    token_pattern_for(token_mode)  # validate mode
    flags = re.ASCII if token_mode == "ascii" else 0
    counts: dict[str, int] = {}
    for tok in re.findall(r"\w\w+", query.lower(), flags):
        counts[tok] = counts.get(tok, 0) + 1
    return counts


def search_topk(
    spark: SparkSession,
    model: TfidfModel,
    query: str,
    k: int = 5,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k docs by summed per-field cosine similarity.

    The search reads only the model's two tables: the query terms filter
    ``idf`` (a handful of rows, normed per field by a window) and
    ``weights``, and the small query vector is broadcast into the
    filtered weights, so the index side never shuffles. Lazy: nothing
    runs until the caller acts on the result.
    """
    boosts = boosts or {}
    counts = tokenize_query(query, model.token_mode)
    if not counts:
        return model.weights.select(*model.key_cols).limit(0).withColumn(
            "score", F.lit(0.0)
        )

    # The query is two literal expressions, a term filter and a
    # term → count map, so no local relation or Python RDD enters the plan.
    terms = sorted(counts)
    in_query = F.col("term").isin(terms)
    qtf = F.create_map(*[F.lit(x) for t in terms for x in (t, float(counts[t]))])
    # Query vector per field: tf·idf from the fitted idf, L2-normalized.
    qw_raw = qtf[F.col("term")] * F.col("idf")
    qvec = model.idf.where(in_query).select(
        "field",
        "term",
        (qw_raw / F.sqrt(F.sum(qw_raw * qw_raw).over(Window.partitionBy("field")))).alias("qw"),
    )

    boost_expr = F.lit(1.0)
    for fname, b in boosts.items():
        boost_expr = F.when(F.col("field") == fname, F.lit(float(b))).otherwise(boost_expr)

    scored = (
        model.weights.where(in_query)
        .join(F.broadcast(qvec), ["field", "term"])
        .select(*model.key_cols, (F.col("w") * F.col("qw") * boost_expr).alias("contrib"))
        .groupBy(*model.key_cols)
        .agg(F.sum("contrib").alias("score"))
    )
    # Order by the ROUNDED score (8 dp) + key tie-breaks: sub-1e-8 float
    # drift between engines must not pick a different row set at the k
    # boundary (the DuckDB oracles order the same way).
    order = [F.round(F.col("score"), 8).desc()] + [F.col(c).asc() for c in model.key_cols]
    return scored.orderBy(*order).limit(k)


def search_topk_batch(
    spark: SparkSession,
    model: TfidfModel,
    queries: list[tuple[int, str]],
    k: int = 5,
) -> DataFrame:
    """Per-group top-k for a BATCH of queries (SURVEY.md §2.7 O4 applied
    to X2): one broadcast of all query vectors, one pass over the index,
    ``row_number() OVER (PARTITION BY query)`` instead of a global sort.
    This is the shape that amortizes at scale — N queries cost one scan.
    The query-term table is a literal ``inline`` over a one-row range,
    so it is built in the JVM, never by Python workers.
    """
    rows = [
        F.struct(F.lit(qid), F.lit(term), F.lit(float(cnt)))
        for qid, q in queries
        for term, cnt in tokenize_query(q, model.token_mode).items()
    ]
    if not rows:
        return model.weights.select(*model.key_cols).limit(0).select(
            F.lit(0).alias("query_id"), *model.key_cols, F.lit(0.0).alias("score")
        )
    # The cast names the columns and keeps them nullable: query_id is a
    # nullable bigint in the output schema callers see.
    qt = spark.range(1).select(
        F.inline(F.array(*rows).cast("array<struct<query_id:bigint,term:string,qtf:double>>"))
    )
    q = qt.join(model.idf, "term").select(
        "query_id", "field", "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qw_win = Window.partitionBy("query_id", "field")
    qvec = q.select(
        "query_id",
        "field",
        "term",
        (F.col("qw_raw") / F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw")).over(qw_win))).alias(
            "qw"
        ),
    )
    scored = (
        model.weights.join(F.broadcast(qvec), ["field", "term"])
        .groupBy("query_id", *model.key_cols)
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
    )
    # Same rounded-score ordering as search_topk: keeps the k-boundary
    # row set identical across engines despite float reduction drift.
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 8).desc(), *[F.col(c).asc() for c in model.key_cols]
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")


def search_topk_df(
    model: TfidfModel,
    queries: DataFrame,
    query_key_cols: list[str],
    text_col: str,
    k: int = 5,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k per query where the query workload is itself a DataFrame —
    the distributed-evaluation shape (``search_topk_batch`` takes a
    driver-side list; at scale the queries are a table of millions of
    rows, e.g. every generated eval question).

    Query texts are tokenized with the SAME engine-side regex as the
    corpus build (not driver-side ``re``), so the whole flow stays in
    the JVM. Output: ``(*query_key_cols, *model.key_cols, score, rank)``
    with ``rank`` 1..k per query by rounded-score desc, key asc.

    ``broadcast_queries=True`` fits workloads that fit in a broadcast
    (eval sets, interactive batches) — the index side then never
    shuffles. For huge query tables set it False: the scoring join
    becomes a shuffled hash join on ``term``, still one pass over the
    index.
    """
    pattern = token_pattern_for(model.token_mode)
    qk = list(query_key_cols)
    qtf = (
        queries.select(
            *qk,
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), F.lit(0))
            ).alias("term"),
        )
        .groupBy(*qk, "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    q = qtf.join(model.idf, "term").select(
        *qk, "field", "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qw_win = Window.partitionBy(*qk, "field")
    qvec = q.select(
        *qk,
        "field",
        "term",
        (F.col("qw_raw") / F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw")).over(qw_win))).alias(
            "qw"
        ),
    )
    side = F.broadcast(qvec) if broadcast_queries else qvec
    scored = (
        model.weights.join(side, ["field", "term"])
        .groupBy(*qk, *model.key_cols)
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
    )
    w = Window.partitionBy(*qk).orderBy(
        F.round(F.col("score"), 8).desc(), *[F.col(c).asc() for c in model.key_cols]
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def add_documents(model: TfidfModel, new_docs: DataFrame) -> TfidfModel:
    """Frozen-vocabulary incremental index update — the serve-path
    maintenance pattern (index a day's new docs without refitting):
    new documents are weighted with the FITTED idf table, exactly
    sklearn's ``transform()`` on unseen docs. OOV terms drop out via
    the idf join; corpus statistics (df, N) are intentionally frozen —
    an exact refresh is a rebuild, and serving systems batch those.

    Scale: the delta build touches ONLY the new docs (tf groupBy +
    broadcast idf join + per-doc norm window); the existing weight
    table is reused as-is via union — nothing about the old corpus is
    recomputed or reshuffled."""
    pattern = token_pattern_for(model.token_mode)
    per_field = []
    for field in model.text_fields:
        idf_f = model.idf.where(F.col("field") == field).drop("field")
        tf = _term_frequencies(new_docs, model.key_cols, field, pattern).repartition(
            *[F.col(c) for c in model.key_cols]
        )
        w = tf.join(F.broadcast(idf_f), "term").select(
            *model.key_cols, "term", (F.col("tf") * F.col("idf")).alias("w_raw")
        )
        doc_w = Window.partitionBy(*model.key_cols)
        per_field.append(
            w.select(
                F.lit(field).alias("field"),
                *model.key_cols,
                "term",
                (
                    F.col("w_raw")
                    / F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw")).over(doc_w))
                ).alias("w"),
            )
        )
    delta = per_field[0]
    for other in per_field[1:]:
        delta = delta.unionByName(other)
    return TfidfModel(
        weights=model.weights.unionByName(delta),
        idf=model.idf,
        key_cols=model.key_cols,
        text_fields=model.text_fields,
        token_mode=model.token_mode,
    )


def save_tfidf(model: TfidfModel, path: str) -> None:
    """Persist a fitted index as parquet tables + a metadata row —
    the build-once / serve-forever lifecycle (the reference refits
    ``minsearch`` in-memory per process; a 100 TB index is built by a
    batch job and SERVED by many, so it must round-trip through
    storage). Weights land partitionable-by-term, which is exactly the
    scoring join key; everything goes through the cluster FS (no
    driver-local file I/O), so the path may be s3://, hdfs://, …"""
    import json

    model.weights.write.mode("overwrite").parquet(f"{path}/weights")
    model.idf.write.mode("overwrite").parquet(f"{path}/idf")
    spark = model.weights.sparkSession
    meta = json.dumps(
        {
            "key_cols": model.key_cols,
            "text_fields": model.text_fields,
            "token_mode": model.token_mode,
            "format_version": 1,
        }
    )
    spark.createDataFrame([(meta,)], ["meta"]).coalesce(1).write.mode("overwrite").json(
        f"{path}/meta"
    )


def load_tfidf(spark: SparkSession, path: str, persist: bool = False) -> TfidfModel:
    """Reload a ``save_tfidf`` index. ``persist=True`` pins the tables
    in cache for the serve-many loop (same contract as
    ``build_tfidf(persist=True)``)."""
    import json

    meta = json.loads(spark.read.json(f"{path}/meta").collect()[0]["meta"])
    if meta.get("format_version") != 1:
        raise ValueError(f"unsupported tfidf index format: {meta.get('format_version')}")
    weights = spark.read.parquet(f"{path}/weights")
    idf = spark.read.parquet(f"{path}/idf")
    if persist:
        weights = weights.persist()
        idf = idf.persist()
    return TfidfModel(
        weights=weights,
        idf=idf,
        key_cols=list(meta["key_cols"]),
        text_fields=list(meta["text_fields"]),
        token_mode=meta["token_mode"],
    )


def shard_tf_fragment(
    df: DataFrame, key_cols: list[str], field: str, token_mode: str = "ascii"
) -> tuple[DataFrame, DataFrame]:
    """One shard's POSTING FRAGMENT for a distributed index build:
    the (doc, term, tf) table plus the shard's doc count. Tokenization
    — the expensive pass at 100 TB — runs exactly once per shard; the
    fragments are what shard jobs persist (tiny vs the text) and what
    ``merge_tf_fragments`` later combines into the global index."""
    pattern = token_pattern_for(token_mode)
    tf = _term_frequencies(df, key_cols, field, pattern)
    n = df.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    return tf, n


def merge_tf_fragments(
    fragments: list[tuple[DataFrame, DataFrame]],
    key_cols: list[str],
    field: str,
    token_mode: str = "ascii",
    min_df: int = 1,
    max_df: float = 1.0,
) -> TfidfModel:
    """EXACT merge of doc-disjoint shard fragments into one global
    TF-IDF model — the build-shards-independently / merge-once pattern
    of every distributed inverted-index system (each shard tokenizes
    its slice; the merge never touches text again).

    Correctness requires recomputing vocabulary statistics GLOBALLY,
    not unioning per-shard models: df(term) = Σ shard dfs (doc-disjoint
    shards), idf from the merged df and total N, and min_df/max_df
    pruning against the GLOBAL df — a term that is hapax in every
    shard but common across them must survive (pinned in
    tests/test_tfidf.py). Downstream arithmetic deliberately mirrors
    ``build_tfidf`` term-for-term so merged == direct to float
    precision; the equality test keeps the two spellings from
    drifting.

    Scale shape: the merge is two combinable aggregations (df per
    term, L2 norm per doc) plus one broadcast idf join over the
    unioned fragment rows — |distinct (doc, term)| wire bytes, no
    retokenization, no text movement."""
    if not fragments:
        raise ValueError("fragments must be non-empty")
    if min_df < 1:
        raise ValueError("min_df must be >= 1 (absolute document count)")
    if not (0.0 < max_df <= 1.0):
        raise ValueError("max_df must be in (0, 1] (proportion of docs)")
    # PRECONDITION (caller-enforced, cannot be checked without a join):
    # shards must be DOC-DISJOINT — an overlapping doc double-counts
    # its df contributions and inflates n_docs.
    tf = fragments[0][0]
    for other, _ in fragments[1:]:
        tf = tf.unionByName(other)
    counts = fragments[0][1]
    for _, other in fragments[1:]:
        counts = counts.unionByName(other)
    n_docs = counts.groupBy().agg(F.sum("n_docs").alias("n_docs"))

    tf = tf.repartition(*[F.col(c) for c in key_cols])
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfreq = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df * F.col("n_docs")))
        .drop("n_docs")
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        F.lit(field).alias("field"),
        "term",
        (F.log((F.lit(1) + F.col("n_docs")) / (F.lit(1) + F.col("df"))) + F.lit(1)).alias("idf"),
    )
    w = tf.join(F.broadcast(idf.drop("field")), "term").select(
        *key_cols, "term", (F.col("tf") * F.col("idf")).alias("w_raw")
    )
    doc_w = Window.partitionBy(*key_cols)
    weights = w.select(
        F.lit(field).alias("field"),
        *key_cols,
        "term",
        (F.col("w_raw") / F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw")).over(doc_w))).alias("w"),
    )
    return TfidfModel(
        weights=weights,
        idf=idf,
        key_cols=key_cols,
        text_fields=[field],
        token_mode=token_mode,
    )
