"""Round-6 corpus analytics: the audit/planning queries a training-data
pipeline runs between dedup and shard materialization — semantic
decontamination, script/markup hygiene, sequence-length budgeting,
vocabulary coverage, positional phrase search, co-occurrence mining,
and code detection.

Reference parity: these extend the corpus-prep surface beyond the
reference's ingest/index scope (zc_agent/prepare_data.py stops at
parse→chunk→index); the operators here are the standard public-corpus
practices (C4/Gopher-style audits, GPT-3-style decontamination applied
to embeddings, SentencePiece-style vocab budgeting) re-expressed as
Spark dataflow. Cross-engine determinism rules follow plans/__init__.py:
exact decimal accumulation for float reductions, identical aliases and
rounding in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tfidf import TOKEN_PATTERN
from . import load, query
from .vectors import NEAR_DUP_COS, dot, l2_norm_sq

DECON_EVAL_VECS = 20  # vec_id < this plays the held-out eval embeddings
MAX_SEQ_TOKENS = 512  # training context budget for truncation audits
VOCAB_CURVE_SIZES = (100, 1000, 10000)  # vocab budgets on the coverage curve
COOCCUR_TOP_TERMS = 50  # co-occurrence is mined among the top-df terms only
COOCCUR_TOP_PAIRS = 20
CODE_SCORE_THRESHOLD = 0.08  # code-likeness flag cut


# --------------------------------------------------------------------------
# Embedding-space decontamination
# --------------------------------------------------------------------------


@query(
    "embedding_decontaminate",
    f"""
    WITH ev AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {DECON_EVAL_VECS}),
    tr AS (
      SELECT vec_id, embedding::DOUBLE[] AS tv
      FROM embeddings WHERE vec_id >= {DECON_EVAL_VECS}),
    scored AS (
      SELECT e.q_id, t.vec_id,
             round(list_dot_product(t.tv, e.qv)
                   / (sqrt(list_dot_product(t.tv, t.tv))
                      * sqrt(list_dot_product(e.qv, e.qv))), 8) + 0.0 AS cosine
      FROM tr t CROSS JOIN ev e),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored)
    SELECT q_id AS eval_vec_id, vec_id AS train_vec_id, cosine,
           cosine >= {NEAR_DUP_COS} AS contaminated
    FROM ranked WHERE rn = 1
    """,
)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space
    complement to ``decontaminate_overlap`` (exact n-grams) and
    ``minhash_decontaminate`` (fuzzy shingles): for each held-out eval
    vector (vec_id < {DECON_EVAL_VECS}), its nearest training vector by
    cosine and whether that neighbor crosses the near-dup threshold —
    the check that catches paraphrased/translated contamination no
    lexical rule sees.

    Shape: the eval block broadcasts (it is small by definition), one
    pass over the training side, and the per-eval argmax is a
    partial-aggregable ``min(struct(-cosine, vec_id))`` — never a
    window over the train stream. At 100 TB the brute-force scan is
    the calibration path; the production path routes through the IVF
    bucketing exactly as ``embedding_near_dup_via_ivf``."""
    e = load(spark, sf_dir, "embeddings")
    ev = e.where(F.col("vec_id") < DECON_EVAL_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("qv")
    )
    tr = e.where(F.col("vec_id") >= DECON_EVAL_VECS).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("tv")
    )
    cos = F.round(
        dot(F.col("tv"), F.col("qv"))
        / (F.sqrt(l2_norm_sq(F.col("tv"))) * F.sqrt(l2_norm_sq(F.col("qv")))),
        8,
    ) + F.lit(0.0)
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "q_id", "vec_id", cos.alias("cosine")
    )
    best = scored.groupBy("q_id").agg(
        F.min(
            F.struct(
                (-F.col("cosine")).alias("_nc"),
                F.col("vec_id").alias("_tid"),
                F.col("cosine").alias("_c"),
            )
        ).alias("m")
    )
    return best.select(
        F.col("q_id").alias("eval_vec_id"),
        F.col("m._tid").alias("train_vec_id"),
        F.col("m._c").alias("cosine"),
        (F.col("m._c") >= NEAR_DUP_COS).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# Script & markup hygiene audits
# --------------------------------------------------------------------------

_CYRILLIC = f"[{chr(0x0400)}-{chr(0x04FF)}]"
_GREEK = f"[{chr(0x0370)}-{chr(0x03FF)}]"
_LATIN = "[A-Za-z]"


@query(
    "script_mix_audit",
    f"""
    WITH s AS (
      SELECT lang, source,
             len(regexp_extract_all(text, '{_LATIN}')) AS n_latin,
             len(regexp_extract_all(text, '{_CYRILLIC}')) AS n_cyr,
             len(regexp_extract_all(text, '{_GREEK}')) AS n_greek,
             length(text) AS n_ch
      FROM documents)
    SELECT lang, source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END) as bigint) AS n_docs_cyrillic,
           cast(sum(CASE WHEN n_greek > 0 THEN 1 ELSE 0 END) as bigint) AS n_docs_greek,
           cast(sum(CASE WHEN n_latin > 0 AND (n_cyr > 0 OR n_greek > 0) THEN 1 ELSE 0 END)
                as bigint) AS n_mixed_script,
           round(cast(sum(cast(CASE WHEN n_ch = 0 THEN 0.0
                                    ELSE cast(n_latin as double) / n_ch END
                               as decimal(18,9))) as double) / count(*), 8) AS avg_latin_ratio
    FROM s GROUP BY lang, source
    """,
)
def script_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script hygiene: per (lang, source), how many docs carry
    Cyrillic or Greek letters and how many MIX them with Latin — the
    confusable-script signal (spam/SEO text swaps lookalike glyphs to
    dodge dedup and filters; a "mixed-script English" doc is almost
    always garbage). Latin-letter ratio is the drift baseline.

    Shape: pure narrow map (three regexp counts per row) feeding one
    combinable agg — no shuffle beyond the |lang × source| rollup. The
    per-doc ratio is accumulated as exact decimal so the mean is
    engine-identical."""
    d = load(spark, sf_dir, "documents")
    n_latin = F.size(F.regexp_extract_all("text", F.lit(_LATIN), F.lit(0)))
    n_cyr = F.size(F.regexp_extract_all("text", F.lit(_CYRILLIC), F.lit(0)))
    n_greek = F.size(F.regexp_extract_all("text", F.lit(_GREEK), F.lit(0)))
    s = d.select(
        "lang",
        "source",
        n_latin.alias("n_latin"),
        n_cyr.alias("n_cyr"),
        n_greek.alias("n_greek"),
        F.length("text").alias("n_ch"),
    )
    latin_ratio = F.when(F.col("n_ch") == 0, F.lit(0.0)).otherwise(
        F.col("n_latin").cast("double") / F.col("n_ch")
    )
    return s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_cyr") > 0, 1).otherwise(0)).cast("long").alias("n_docs_cyrillic"),
        F.sum(F.when(F.col("n_greek") > 0, 1).otherwise(0)).cast("long").alias("n_docs_greek"),
        F.sum(
            F.when((F.col("n_latin") > 0) & ((F.col("n_cyr") > 0) | (F.col("n_greek") > 0)), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_mixed_script"),
        F.round(
            F.sum(latin_ratio.cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)), 8
        ).alias("avg_latin_ratio"),
    )


_TAG_RE = "<[A-Za-z][^>]*>"
_ENTITY_RE = "&[A-Za-z]+;"


@query(
    "markup_residue_audit",
    f"""
    WITH s AS (
      SELECT source,
             len(regexp_extract_all(text, '{_TAG_RE}')) AS n_tags,
             len(regexp_extract_all(text, '{_ENTITY_RE}')) AS n_entities,
             length(text) AS n_ch,
             length(text) - length(regexp_replace(text, '{_TAG_RE}|{_ENTITY_RE}', '', 'g'))
               AS markup_ch
      FROM documents)
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN n_tags + n_entities > 0 THEN 1 ELSE 0 END) as bigint)
             AS n_docs_with_markup,
           cast(sum(n_tags) as bigint) AS total_tags,
           cast(sum(n_entities) as bigint) AS total_entities,
           round(cast(sum(cast(CASE WHEN n_ch = 0 THEN 0.0
                                    ELSE cast(markup_ch as double) / n_ch END
                               as decimal(18,9))) as double) / count(*), 8)
             AS avg_markup_ratio
    FROM s GROUP BY source
    """,
)
def markup_residue_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup residue audit: per source, docs still carrying tags
    or entities after extraction, and the average fraction of
    characters that are markup — the C4-style cleanliness gate that
    decides whether a source needs re-extraction before it may enter
    the training mix.

    Shape: narrow per-row regexp counts + one combinable rollup; the
    markup-char fraction comes from a strip-and-diff
    (``regexp_replace`` to empty) so overlapping matches are never
    double-counted."""
    d = load(spark, sf_dir, "documents")
    pat = f"{_TAG_RE}|{_ENTITY_RE}"
    s = d.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_TAG_RE), F.lit(0))).alias("n_tags"),
        F.size(F.regexp_extract_all("text", F.lit(_ENTITY_RE), F.lit(0))).alias("n_entities"),
        F.length("text").alias("n_ch"),
        (F.length("text") - F.length(F.regexp_replace("text", pat, ""))).alias("markup_ch"),
    )
    ratio = F.when(F.col("n_ch") == 0, F.lit(0.0)).otherwise(
        F.col("markup_ch").cast("double") / F.col("n_ch")
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tags") + F.col("n_entities") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_markup"),
        F.sum("n_tags").cast("long").alias("total_tags"),
        F.sum("n_entities").cast("long").alias("total_entities"),
        F.round(
            F.sum(ratio.cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)), 8
        ).alias("avg_markup_ratio"),
    )


# --------------------------------------------------------------------------
# Sequence-length budgeting
# --------------------------------------------------------------------------


@query(
    "context_length_buckets",
    f"""
    WITH t AS (
      SELECT len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_tok
      FROM documents),
    b AS (
      SELECT cast(length(bin(n_tok)) - 1 as bigint) AS bucket_pow2,
             cast(n_tok as bigint) AS n_tok
      FROM t WHERE n_tok >= 1),
    agg AS (
      SELECT bucket_pow2,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(n_tok) as bigint) AS total_tokens
      FROM b GROUP BY bucket_pow2)
    SELECT bucket_pow2,
           cast(pow(2, bucket_pow2) as bigint) AS bucket_lo,
           n_docs, total_tokens,
           round(cast(sum(total_tokens) OVER (ORDER BY bucket_pow2) as double)
                 / (SELECT sum(total_tokens) FROM agg), 8) AS cum_token_share
    FROM agg
    """,
)
def context_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning: docs and token mass per power-of-two
    token-length bucket, with the cumulative token share up each bucket
    — the histogram that picks max_seq_len (the bucket where the curve
    flattens is where longer contexts stop buying data) and sizes
    length-grouped batching.

    Shape: the bucket is integer bit-math (``length(bin(n)) - 1`` =
    floor(log2) — no float log at bucket boundaries), the rollup is
    combinable, and the cumulative share is a triangle self-join over
    the ≤~30 bucket rows — never a window over the doc stream."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)))
    b = (
        d.select(n_tok.alias("n_tok"))
        .where(F.col("n_tok") >= 1)
        .select(
            (F.length(F.bin(F.col("n_tok"))) - 1).cast("long").alias("bucket_pow2"),
            F.col("n_tok").cast("long").alias("n_tok"),
        )
    )
    agg = b.groupBy("bucket_pow2").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    tot = agg.agg(F.sum("total_tokens").alias("_t"))
    x, y = agg.alias("x"), agg.select("bucket_pow2", "total_tokens").alias("y")
    cum = (
        x.join(y, F.col("y.bucket_pow2") <= F.col("x.bucket_pow2"))
        .groupBy(
            F.col("x.bucket_pow2").alias("bucket_pow2"),
            F.col("x.n_docs").alias("n_docs"),
            F.col("x.total_tokens").alias("total_tokens"),
        )
        .agg(F.sum(F.col("y.total_tokens")).alias("_cum"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "bucket_pow2",
        F.pow(F.lit(2), F.col("bucket_pow2")).cast("long").alias("bucket_lo"),
        "n_docs",
        "total_tokens",
        F.round(F.col("_cum").cast("double") / F.col("_t"), 8).alias("cum_token_share"),
    )


@query(
    "truncation_loss_audit",
    f"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_tok
      FROM documents)
    SELECT lang,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN n_tok > {MAX_SEQ_TOKENS} THEN 1 ELSE 0 END) as bigint)
             AS n_truncated,
           cast(sum(n_tok) as bigint) AS total_tokens,
           cast(sum(CASE WHEN n_tok > {MAX_SEQ_TOKENS} THEN n_tok - {MAX_SEQ_TOKENS}
                         ELSE 0 END) as bigint) AS tokens_lost,
           round(cast(sum(CASE WHEN n_tok > {MAX_SEQ_TOKENS} THEN n_tok - {MAX_SEQ_TOKENS}
                              ELSE 0 END) as double)
                 / sum(n_tok), 8) AS loss_fraction
    FROM t GROUP BY lang
    """,
)
def truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-vs-packing evidence: per language, how many docs
    exceed the {MAX_SEQ_TOKENS}-token context budget and what fraction
    of the token mass a hard truncation would discard — the number that
    justifies (or kills) a packing pipeline like
    ``sequence_pack_greedy`` for a given corpus.

    Shape: narrow token count per row, one combinable rollup; the loss
    fraction divides two exact bigints (engine-identical)."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)))
    t = d.select("lang", n_tok.alias("n_tok"))
    lost = F.when(F.col("n_tok") > MAX_SEQ_TOKENS, F.col("n_tok") - MAX_SEQ_TOKENS).otherwise(0)
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > MAX_SEQ_TOKENS, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(lost).cast("long").alias("tokens_lost"),
        F.round(F.sum(lost).cast("double") / F.sum("n_tok"), 8).alias("loss_fraction"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage
# --------------------------------------------------------------------------


def _vocab_curve_oracle() -> str:
    max_n = max(VOCAB_CURVE_SIZES)
    sizes = ", ".join(f"({n})" for n in VOCAB_CURVE_SIZES)
    return f"""
    WITH wf AS (
      SELECT tok, cast(count(*) as bigint) AS c
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
            FROM documents)
      GROUP BY tok),
    tot AS (SELECT sum(c) AS t, count(*) AS n_vocab FROM wf),
    pool AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk
      FROM wf ORDER BY c DESC, tok LIMIT {max_n}),
    sizes(vocab_size) AS (VALUES {sizes})
    SELECT cast(s.vocab_size as bigint) AS vocab_size,
           cast(coalesce(sum(p.c), 0) as bigint) AS covered_tokens,
           round(cast(coalesce(sum(p.c), 0) as double) / (SELECT t FROM tot), 8)
             AS coverage,
           cast((SELECT n_vocab FROM tot) as bigint) AS n_vocab_total
    FROM sizes s LEFT JOIN pool p ON p.rnk <= s.vocab_size
    GROUP BY s.vocab_size
    """


@query("vocab_coverage_curve", _vocab_curve_oracle())
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary budgeting: for each candidate vocab size
    {VOCAB_CURVE_SIZES}, the corpus token mass covered by the top-N
    words — the curve that picks a tokenizer vocab size (coverage's
    knee) and predicts the OOV rate a word-level vocab would pay.

    Shape: one token-frequency groupBy, ``orderBy().limit()`` FIRST
    (TakeOrderedAndProject — per-shard top-N merge), so only the
    ≤{max(VOCAB_CURVE_SIZES)} pooled rows see the rank window (the
    bounded-pool exemption, as in ``zipf_fit_stats``); the curve
    points come from a broadcast join of the 3-row size table against
    the pool."""
    from pyspark.sql.window import Window

    max_n = max(VOCAB_CURVE_SIZES)
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = wf.agg(
        F.sum("c").alias("_t"), F.count(F.lit(1)).cast("long").alias("n_vocab_total")
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    pool = (
        wf.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(max_n)
        .withColumn("rnk", F.row_number().over(w))
    )
    sizes = spark.createDataFrame(
        [(n,) for n in VOCAB_CURVE_SIZES], "vocab_size long"
    )
    return (
        sizes.join(F.broadcast(pool), pool["rnk"] <= sizes["vocab_size"], "left")
        .groupBy("vocab_size")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("covered_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered_tokens",
            F.round(F.col("covered_tokens").cast("double") / F.col("_t"), 8).alias(
                "coverage"
            ),
            "n_vocab_total",
        )
    )


# --------------------------------------------------------------------------
# Positional phrase search
# --------------------------------------------------------------------------


@query(
    "phrase_search_positions",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
      FROM documents),
    bigrams AS (
      SELECT doc_id, cast(i as bigint) AS pos, concat(a[i], ' ', a[i + 1]) AS gram
      FROM toks, unnest(generate_series(1, len(a) - 1)) AS t(i)
      WHERE len(a) >= 2),
    best AS (
      SELECT gram FROM bigrams GROUP BY gram
      ORDER BY count(*) DESC, gram LIMIT 1)
    SELECT b.doc_id, b.pos, b.gram
    FROM bigrams b JOIN best USING (gram)
    """,
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: every (doc, token-position)
    occurrence of the corpus's most frequent bigram — the positional
    posting list a phrase query consults. Self-referential phrase
    choice (top bigram, lexicographic tiebreak) keeps the query
    deterministic and non-empty on any corpus.

    Shape: the bigram stream is a narrow per-row transform (no
    shuffle); the phrase pick is ``orderBy().limit(1)`` —
    TakeOrderedAndProject — and broadcasts back against the stream as
    a 1-row equi-join. A real phrase index materializes the
    (gram → postings) table once and partition-prunes on gram; this
    query is one probe of that layout."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias("a"),
    ).where(F.size("a") >= 2)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1), "
                "i -> struct(cast(i as bigint) AS pos, "
                "concat(element_at(a, i), ' ', element_at(a, i + 1)) AS gram))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    best = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), "gram")
        .limit(1)
        .select("gram")
    )
    return grams.join(F.broadcast(best), "gram").select("doc_id", "pos", "gram")


# --------------------------------------------------------------------------
# Term co-occurrence mining
# --------------------------------------------------------------------------


def _cooccur_oracle() -> str:
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
            FROM documents)),
    df AS (SELECT tok, cast(count(*) as bigint) AS df FROM dt GROUP BY tok),
    top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT {COOCCUR_TOP_TERMS}),
    n AS (SELECT cast(count(DISTINCT doc_id) as bigint) AS n_docs FROM dt),
    filtered AS (SELECT dt.doc_id, dt.tok FROM dt JOIN top ON dt.tok = top.tok),
    pairs AS (
      SELECT a.tok AS term_a, b.tok AS term_b, cast(count(*) as bigint) AS n_ab
      FROM filtered a JOIN filtered b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok)
    SELECT term_a, term_b, n_ab,
           ta.df AS df_a, tb.df AS df_b,
           round(ln(cast(n_ab as double) * (SELECT n_docs FROM n)
                    / (cast(ta.df as double) * tb.df)), 8) AS pmi
    FROM pairs JOIN top ta ON pairs.term_a = ta.tok
               JOIN top tb ON pairs.term_b = tb.tok
    ORDER BY pmi DESC, term_a, term_b LIMIT {COOCCUR_TOP_PAIRS}
    """


@query("term_cooccur_pmi_topk", _cooccur_oracle())
def term_cooccur_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term association for query expansion: among the
    {COOCCUR_TOP_TERMS} highest-df terms, the {COOCCUR_TOP_PAIRS} pairs
    with the highest document-PMI (log of observed-vs-independent
    co-occurrence) — the table a retrieval layer consults to expand
    "spark" with "sql". The adjacency-PMI cousin is
    ``bigram_pmi_top20``; this one associates terms across a whole doc.

    Shape: the pair space is BOUNDED BY CONSTRUCTION — doc-term pairs
    are first semi-joined to the broadcast top-{COOCCUR_TOP_TERMS} df
    table, so the self-join fans out at most C({COOCCUR_TOP_TERMS},2)
    distinct keys regardless of corpus size; final top-k is
    TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("tok"),
    ).distinct()
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top = dfreq.orderBy(F.col("df").desc(), "tok").limit(COOCCUR_TOP_TERMS)
    n = dt.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    filtered = dt.join(F.broadcast(top.select("tok")), "tok").select("doc_id", "tok")
    a = filtered.select("doc_id", F.col("tok").alias("term_a"))
    b = filtered.select("doc_id", F.col("tok").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ta = top.select(F.col("tok").alias("term_a"), F.col("df").alias("df_a"))
    tb = top.select(F.col("tok").alias("term_b"), F.col("df").alias("df_b"))
    scored = (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                8,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "term_a", "term_b").limit(COOCCUR_TOP_PAIRS)


# --------------------------------------------------------------------------
# Code detection
# --------------------------------------------------------------------------

_INDENT_RE = "(?m)^(    |\t)"


@query(
    "code_detect_heuristic",
    f"""
    WITH s AS (
      SELECT lang, source,
             len(regexp_extract_all(text, '[{{}}()\\[\\];]')) AS n_punct,
             len(regexp_extract_all(text, '=')) AS n_eq,
             len(regexp_extract_all(text, '(?m)^(    |\t)')) AS n_indent,
             length(text) AS n_ch,
             len(string_split(text, chr(10))) AS n_lines
      FROM documents),
    scored AS (
      SELECT lang, source,
             CASE WHEN n_ch = 0 THEN 0.0
                  ELSE 10.0 * n_punct / n_ch + 5.0 * n_eq / n_ch
                       + cast(n_indent as double) / n_lines END AS score
      FROM s)
    SELECT lang, source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN score >= {CODE_SCORE_THRESHOLD} THEN 1 ELSE 0 END) as bigint)
             AS n_code_docs,
           round(cast(sum(cast(score as decimal(18,9))) as double) / count(*), 8)
             AS avg_code_score
    FROM scored GROUP BY lang, source
    """,
)
def code_detect_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection without a model: bracket/semicolon
    density, assignment density, and indented-line fraction compose a
    code-likeness score; docs above {CODE_SCORE_THRESHOLD} are flagged.
    Feeds the mixture-weight decision (code and prose train
    differently) the same way ``language_id_heuristic`` feeds lang
    routing — cheap, narrow, calibration-friendly.

    Shape: per-row regexp counts and one combinable rollup; the score
    is per-row IEEE arithmetic written identically in both dialects,
    and its mean accumulates as exact decimal."""
    d = load(spark, sf_dir, "documents")
    s = d.select(
        "lang",
        "source",
        F.size(F.regexp_extract_all("text", F.lit("[{}()\\[\\];]"), F.lit(0))).alias("n_punct"),
        F.size(F.regexp_extract_all("text", F.lit("="), F.lit(0))).alias("n_eq"),
        F.size(F.regexp_extract_all("text", F.lit(_INDENT_RE), F.lit(0))).alias("n_indent"),
        F.length("text").alias("n_ch"),
        F.size(F.split("text", "\n", -1)).alias("n_lines"),
    )
    score = F.when(F.col("n_ch") == 0, F.lit(0.0)).otherwise(
        F.lit(10.0) * F.col("n_punct") / F.col("n_ch")
        + F.lit(5.0) * F.col("n_eq") / F.col("n_ch")
        + F.col("n_indent").cast("double") / F.col("n_lines")
    )
    return s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(score >= CODE_SCORE_THRESHOLD, 1).otherwise(0))
        .cast("long")
        .alias("n_code_docs"),
        F.round(
            F.sum(score.cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)), 8
        ).alias("avg_code_score"),
    )


# --------------------------------------------------------------------------
# MinHash estimator calibration
# --------------------------------------------------------------------------

J_CAL_SAMPLE = 20  # bounded all-pairs sample, as in jaccard_similarity_sample


def _minhash_calibration_oracle() -> str:
    from .textops import _MH_P, MINHASH_PERMS, SHINGLE_K

    mins = ", ".join(
        f"min(({a} * bh + {b}) % {_MH_P}) AS m{i}" for i, a, b in MINHASH_PERMS
    )
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i, _, _ in MINHASH_PERMS
    )
    n_perms = len(MINHASH_PERMS)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, cast(i as int), {SHINGLE_K}) AS s
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K} AND doc_id < {J_CAL_SAMPLE}),
    sizes AS (SELECT doc_id, cast(count(*) as bigint) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, cast(count(*) as bigint) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    bh AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(substr(text, cast(i as int), {SHINGLE_K})), 1, 15)) as bigint)
               % {_MH_P} AS bh
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K} AND doc_id < {J_CAL_SAMPLE}),
    mins AS (SELECT doc_id, {mins} FROM bh GROUP BY doc_id),
    est AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast({matches} as double) / {n_perms} AS est_j
      FROM mins a JOIN mins b ON a.doc_id < b.doc_id)
    SELECT e.doc_a, e.doc_b,
           round(e.est_j, 8) AS est_jaccard,
           round(cast(coalesce(i.n_inter, 0) as double)
                 / (sa.n + sb.n - coalesce(i.n_inter, 0)), 8) AS exact_jaccard,
           round(abs(e.est_j - cast(coalesce(i.n_inter, 0) as double)
                            / (sa.n + sb.n - coalesce(i.n_inter, 0))), 8) AS abs_err
    FROM est e
    LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
    JOIN sizes sa ON e.doc_a = sa.doc_id
    JOIN sizes sb ON e.doc_b = sb.doc_id
    """


@query("minhash_jaccard_calibration", _minhash_calibration_oracle())
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality calibration: over a bounded sample
    (doc_id < {J_CAL_SAMPLE}, as in ``jaccard_similarity_sample``),
    the MinHash-estimated Jaccard (matching signature slots / perms)
    next to the EXACT character-shingle Jaccard for every pair, with
    the absolute estimator error — the table that justifies the LSH
    banding operating point before anyone trusts
    ``minhash_lsh_candidate_pairs`` at 100 TB.

    Shape: the pair space is O(sample²) BY CONSTRUCTION; signatures
    come from the shared kernel (``textops._minhash_wide`` — the
    doc_id filter pushes through the groupBy to the scan), exact
    Jaccard from a distinct-shingle equi-join. Cites the same
    universal-hash family as ``minhash_signatures``."""
    from .textops import MINHASH_PERMS, SHINGLE_K, _minhash_wide

    n_perms = len(MINHASH_PERMS)
    d = load(spark, sf_dir, "documents").where(
        (F.length("text") >= SHINGLE_K) & (F.col("doc_id") < J_CAL_SAMPLE)
    )
    sh = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - SHINGLE_K + 1)).alias("i"),
        "text",
    ).select("doc_id", F.expr(f"substring(text, i, {SHINGLE_K})").alias("s")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    mins = _minhash_wide(spark, sf_dir).where(F.col("doc_id") < J_CAL_SAMPLE)
    ma = mins.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i, _, _ in MINHASH_PERMS]
    )
    mb = mins.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i, _, _ in MINHASH_PERMS]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i, _, _ in MINHASH_PERMS
    )
    est = (
        ma.crossJoin(mb)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", (matches.cast("double") / n_perms).alias("est_j"))
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    exact = ni.cast("double") / (F.col("sa.n") + F.col("sb.n") - ni)
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("est_j"), 8).alias("est_jaccard"),
            F.round(exact, 8).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_j") - exact), 8).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# Source drift (KL divergence)
# --------------------------------------------------------------------------

DRIFT_POOL_TERMS = 200  # KL is computed over the top-N global terms only


def _drift_kl_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT source, tok, cast(count(*) as bigint) AS c
      FROM (SELECT source, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
            FROM documents)
      GROUP BY source, tok),
    gl AS (SELECT tok, sum(c) AS c FROM tf GROUP BY tok),
    pool AS (SELECT tok, c FROM gl ORDER BY c DESC, tok LIMIT {DRIFT_POOL_TERMS}),
    gtot AS (SELECT sum(c) AS t FROM pool),
    stot AS (
      SELECT tf.source, sum(tf.c) AS t
      FROM tf JOIN pool ON tf.tok = pool.tok GROUP BY tf.source),
    contrib AS (
      SELECT tf.source,
             round((tf.c / st.t) * ln((tf.c / st.t) / (pool.c / gt.t)), 9) AS kc
      FROM tf JOIN pool ON tf.tok = pool.tok
              JOIN stot st ON tf.source = st.source
              CROSS JOIN gtot gt)
    SELECT source,
           cast(count(*) as bigint) AS n_terms_used,
           round(cast(sum(cast(kc as decimal(18,9))) as double), 6) AS kl_divergence
    FROM contrib GROUP BY source
    """


@query("source_term_drift_kl", _drift_kl_oracle())
def source_term_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: KL(source ‖ corpus) over the unigram
    distributions restricted to the top-{DRIFT_POOL_TERMS} global terms
    (both sides renormalized over the pool — bounded support, no
    zero-probability terms) — the number that flags "this crawl slice
    stopped looking like the mixture" before it poisons training.

    Shape: one (source, term) groupBy; the pool is
    TakeOrderedAndProject and broadcasts; per-term contributions are
    rounded then accumulated as exact decimal (``zipf_fit_stats``'s
    determinism recipe), so the float reduction is engine-identical."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    gl = tf.groupBy("tok").agg(F.sum("c").alias("gc"))
    pool = gl.orderBy(F.col("gc").desc(), "tok").limit(DRIFT_POOL_TERMS)
    gtot = pool.agg(F.sum("gc").alias("gt"))
    pooled = tf.join(F.broadcast(pool), "tok")
    stot = pooled.groupBy("source").agg(F.sum("c").alias("st"))
    p = F.col("c") / F.col("st")
    q = F.col("gc") / F.col("gt")
    contrib = (
        pooled.join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
        .select("source", F.round(p * F.log(p / q), 9).alias("kc"))
    )
    return contrib.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_used"),
        F.round(F.sum(F.col("kc").cast("decimal(18,9)")).cast("double"), 6).alias(
            "kl_divergence"
        ),
    )


# --------------------------------------------------------------------------
# Keyword extraction
# --------------------------------------------------------------------------

KEYWORDS_PER_DOC = 5


def _keyword_oracle() -> str:
    from . import REGISTRY

    return f"""
    WITH base AS ({REGISTRY["tfidf_doc_weights"].oracle})
    SELECT doc_id, term, w,
           cast(rn as bigint) AS rn
    FROM (SELECT doc_id, term, w,
                 row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
          FROM base)
    WHERE rn <= {KEYWORDS_PER_DOC}
    """


@query("tfidf_keywords_per_doc", _keyword_oracle())
def tfidf_keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-{KEYWORDS_PER_DOC} terms
    by L2-normalized TF-IDF weight — the doc-tagging/faceting pass that
    turns the search index into corpus metadata. Ranks on the ROUNDED
    weight (term tiebreak) so ranks can't flip between engines.

    Shape: reuses ``tfidf_doc_weights`` (one index build), then a
    window partitioned by doc_id — a HIGH-cardinality key, so the
    grouped-window funnel the scale helpers exist for does not apply
    here."""
    from pyspark.sql.window import Window

    from .rag import tfidf_doc_weights

    w = tfidf_doc_weights(spark, sf_dir)
    win = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "term")
    return (
        w.withColumn("rn", F.row_number().over(win).cast("long"))
        .where(F.col("rn") <= KEYWORDS_PER_DOC)
        .select("doc_id", "term", "w", "rn")
    )


# --------------------------------------------------------------------------
# Dedup retention accounting
# --------------------------------------------------------------------------


@query(
    "dedup_retention_by_source",
    """
    WITH canon AS (
      SELECT doc_id, source, n_chars,
             doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS survives
      FROM documents)
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN survives THEN 1 ELSE 0 END) as bigint) AS n_survivors,
           cast(sum(n_chars) as bigint) AS chars_total,
           cast(sum(CASE WHEN survives THEN n_chars ELSE 0 END) as bigint) AS chars_retained,
           round(cast(sum(CASE WHEN survives THEN n_chars ELSE 0 END) as double)
                 / sum(n_chars), 8) AS retention_ratio
    FROM canon GROUP BY source
    """,
)
def dedup_retention_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact accounting: per source, how many docs and how much
    character mass survive exact-content canonicalization (min doc_id
    per content hash) — the report that attributes dedup losses to the
    source that shipped the duplicates (``dedup_size_histogram`` gives
    the distribution; this gives the blame).

    Shape: survival is a min-aggregate on the 16-byte content hash
    re-joined by hash (payloads never shuffle), then one combinable
    per-source rollup — the same kernel as ``dedup_exact_stats``."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h")
    )
    first = d.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    canon = d.join(first, "h").select(
        "source", "n_chars", (F.col("doc_id") == F.col("keep_id")).alias("survives")
    )
    return canon.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("survives"), 1).otherwise(0)).cast("long").alias("n_survivors"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.when(F.col("survives"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_retained"),
        F.round(
            F.sum(F.when(F.col("survives"), F.col("n_chars")).otherwise(0)).cast("double")
            / F.sum("n_chars"),
            8,
        ).alias("retention_ratio"),
    )


# --------------------------------------------------------------------------
# LSH banding design curve: for every (bands × rows) split of the
# signature, the S-curve theory P[candidate] = 1-(1-s^r)^b against the
# banding actually applied to the signatures — the (b, r) decision
# table behind minhash_lsh_candidate_pairs' operating point.
# --------------------------------------------------------------------------

LSH_DESIGN_CONFIGS = [(1, 8), (2, 4), (4, 2), (8, 1)]  # b × r = 8 perms


def _banding_curve_oracle() -> str:
    from .textops import _MH_P, MINHASH_PERMS, SHINGLE_K

    mins = ", ".join(
        f"min(({a} * bh + {b}) % {_MH_P}) AS m{i}" for i, a, b in MINHASH_PERMS
    )
    cand_cases = " ".join(
        "WHEN cfg.b = {b} AND cfg.r = {r} THEN ({expr})".format(
            b=b,
            r=r,
            expr=" OR ".join(
                "("
                + " AND ".join(f"p.a{i} = p.b{i}" for i in range(k * r, (k + 1) * r))
                + ")"
                for k in range(b)
            ),
        )
        for b, r in LSH_DESIGN_CONFIGS
    )
    acols = ", ".join(f"a.m{i} AS a{i}" for i, _, _ in MINHASH_PERMS)
    bcols = ", ".join(f"b.m{i} AS b{i}" for i, _, _ in MINHASH_PERMS)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, cast(i as int), {SHINGLE_K}) AS s
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K} AND doc_id < {J_CAL_SAMPLE}),
    sizes AS (SELECT doc_id, cast(count(*) as bigint) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, cast(count(*) as bigint) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    bh AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(substr(text, cast(i as int), {SHINGLE_K})), 1, 15)) as bigint)
               % {_MH_P} AS bh
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K} AND doc_id < {J_CAL_SAMPLE}),
    mins AS (SELECT doc_id, {mins} FROM bh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {acols}, {bcols}
      FROM mins a JOIN mins b ON a.doc_id < b.doc_id),
    pj AS (
      SELECT p.*,
             round(cast(coalesce(i.n_inter, 0) as double)
                   / (sa.n + sb.n - coalesce(i.n_inter, 0)), 8) AS sj
      FROM pairs p
      LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id),
    percfg AS (
      SELECT cfg.b, cfg.r,
             CASE {cand_cases} END AS is_cand,
             round(1.0 - power(1.0 - power(p.sj, cfg.r), cfg.b), 6) AS theory
      FROM pj p CROSS JOIN (VALUES {", ".join(f"({b}, {r})" for b, r in LSH_DESIGN_CONFIGS)})
        AS cfg(b, r))
    SELECT cast(b as int) AS bands, cast(r as int) AS rows_per_band,
           cast(count(*) as bigint) AS n_pairs,
           cast(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) as bigint) AS n_candidates,
           floor(cast(sum(cast(theory as decimal(18,6))) as double) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_theory_prob,
           floor(cast(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) as double) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS candidate_rate
    FROM percfg GROUP BY b, r
    """


@query("lsh_banding_design_curve", _banding_curve_oracle())
def lsh_banding_design_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH design table: for each (bands, rows-per-band) split of
    the 8-perm MinHash signature, the mean theoretical detection
    probability 1-(1-s^r)^b over the calibration pairs (s = EXACT
    shingle Jaccard) next to the banding's measured candidate rate on
    the very same signatures. Read it row by row to pick the operating
    point: more bands → higher recall AND more candidate-join traffic.

    Shape: everything is bounded by the {J_CAL_SAMPLE}-doc calibration
    sample BY CONSTRUCTION (same as ``minhash_jaccard_calibration``);
    the config fan-out is ×{LSH_DESIGN_CONFIGS}-sized. At 100 TB this
    query runs unchanged on the same bounded sample — the design
    decision never needs the full corpus."""
    from pyspark import StorageLevel

    from .textops import MINHASH_PERMS, SHINGLE_K, _minhash_wide

    d = load(spark, sf_dir, "documents").where(
        (F.length("text") >= SHINGLE_K) & (F.col("doc_id") < J_CAL_SAMPLE)
    )
    sh = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - SHINGLE_K + 1)).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substring(text, i, {SHINGLE_K})").alias("s"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds sizes AND both join sides
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "s")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    # both pair sides read the signature table — one minhash pass
    mins = (
        _minhash_wide(spark, sf_dir)
        .where(F.col("doc_id") < J_CAL_SAMPLE)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ma = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i, _, _ in MINHASH_PERMS],
    )
    mb = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i, _, _ in MINHASH_PERMS],
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    # every (b, r) config arm reads this pair frame — materialize once
    pj = (
        ma.crossJoin(mb)
        .where(F.col("doc_a") < F.col("doc_b"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            *[F.col(f"a{i}") for i, _, _ in MINHASH_PERMS],
            *[F.col(f"b{i}") for i, _, _ in MINHASH_PERMS],
            F.round(
                ni.cast("double") / (F.col("sa.n") + F.col("sb.n") - ni), 8
            ).alias("sj"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_cfg = []
    for b, r in LSH_DESIGN_CONFIGS:
        cand = None
        for k in range(b):
            band = None
            for i in range(k * r, (k + 1) * r):
                eq = F.col(f"a{i}") == F.col(f"b{i}")
                band = eq if band is None else (band & eq)
            cand = band if cand is None else (cand | band)
        theory = F.round(
            F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.col("sj"), F.lit(r)), F.lit(b)), 6
        )
        per_cfg.append(
            pj.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                cand.alias("is_cand"),
                theory.alias("theory"),
            )
        )
    allcfg = per_cfg[0]
    for extra in per_cfg[1:]:
        allcfg = allcfg.unionByName(extra)
    return allcfg.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).cast("long").alias("n_candidates"),
        (
            F.floor(
                F.sum(F.col("theory").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
                * 1000000.0
                + 0.5
            ).cast("double")
            / 1000000.0
        ).alias("mean_theory_prob"),
        (
            F.floor(
                F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
                * 1000000.0
                + 0.5
            ).cast("double")
            / 1000000.0
        ).alias("candidate_rate"),
    )
