"""Training-data-pipeline operators over ``documents`` (EXT family —
the corpus-preparation stages a 100 TB LLM data pipeline runs between
raw ingest and tokenization): PII redaction, deterministic dataset
splits, stratified rebalancing, collocation mining, canonical-doc
dedup materialization.

Scale notes: every op is a narrow map or a map-side-combinable agg —
no all-pairs shapes, no driver loops. Determinism: splits/samples are
hash-bucketed (md5 — engine-portable), never RNG; PMI arithmetic is
exact-integer counts divided as doubles with explicit rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tfidf import TOKEN_PATTERN
from . import load, query

# RE2- and Java-compatible redaction patterns (no lookarounds, no \b
# dependence differences): email, URL, long digit runs (ids/phones).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^ \t\n]+"
_NUM_RE = r"[0-9]{6,}"


@query(
    "pii_redact",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_URL_RE}', '<URL>', 'g'),
             '{_NUM_RE}', '<NUM>', 'g') AS redacted,
           cast(len(regexp_extract_all(text, '{_EMAIL_RE}')) as bigint) AS n_emails,
           cast(len(regexp_extract_all(text, '{_URL_RE}')) as bigint) AS n_urls,
           cast(len(regexp_extract_all(text, '{_NUM_RE}')) as bigint) AS n_nums
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: emails / URLs / long digit runs replaced by
    typed placeholder tokens, per-doc hit counts kept for audit. Order
    of the three passes matters (emails before NUM so the local part's
    digits don't get clipped first) and is identical in both engines.
    Narrow map — scales linearly, no shuffle."""
    d = load(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _NUM_RE,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_URL_RE), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_NUM_RE), F.lit(0)))
        .cast("long")
        .alias("n_nums"),
    )


# Split fractions: 80 / 10 / 10 over 100 hash buckets. Salted key so the
# assignment is independent of any other hash-bucketed op in the repo.
_SPLIT_SALT = "split42|"


def _bucket_sql(key: str) -> str:
    return (
        f"cast(concat('0x', substr(md5(concat('{_SPLIT_SALT}', cast({key} as varchar))), 1, 15)) "
        "as bigint) % 100"
    )


def _bucket_col(key) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_SPLIT_SALT), key.cast("string"))), 1, 15), 16, 10
        ).cast("long")
        % 100
    )


@query(
    "dataset_split_assign",
    f"""
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, lang, {_bucket_sql("doc_id")} AS bucket FROM documents)
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by salted hash bucket —
    the split survives re-runs, insertions, and repartitioning (a row's
    split depends only on its key, never on row order or an RNG seed).
    The 100 TB property that matters: adding documents never reshuffles
    existing assignments, so incremental pipeline runs stay consistent."""
    d = load(spark, sf_dir, "documents")
    bucket = _bucket_col(F.col("doc_id"))
    split = (
        F.when(F.col("bucket") < 80, "train").when(F.col("bucket") < 90, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", bucket.alias("bucket")).withColumn("split", split)


# Per-language keep-rates for corpus rebalancing: downsample the
# over-represented language, keep the tail languages whole.
_LANG_KEEP_PCT = {"en": 25}  # everything else: 100
_REBAL_SALT = "rebal7|"


@query(
    "stratified_rebalance",
    f"""
    WITH kept AS (
      SELECT doc_id, lang,
             cast(concat('0x', substr(md5(concat('{_REBAL_SALT}', cast(doc_id as varchar))), 1, 15))
                  as bigint) % 100 AS b
      FROM documents)
    SELECT doc_id, lang FROM kept
    WHERE b < (CASE WHEN lang = 'en' THEN {_LANG_KEEP_PCT["en"]} ELSE 100 END)
    """,
)
def stratified_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling for corpus balance: per-language keep
    fraction applied via salted hash buckets (en is ~half this corpus →
    keep 25%; tail languages kept whole). Same determinism contract as
    ``dataset_split_assign``; at scale this is the standard
    over-represented-source throttle, a pushdown-friendly filter with
    zero shuffles."""
    d = load(spark, sf_dir, "documents")
    b = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_REBAL_SALT), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    keep = F.when(F.col("lang") == "en", F.lit(_LANG_KEEP_PCT["en"])).otherwise(F.lit(100))
    return d.select("doc_id", "lang", b.alias("_b")).where(F.col("_b") < keep).drop("_b")


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@query(
    "bigram_pmi_top20",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
      FROM documents),
    bigrams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 1),
                                           i -> concat(a[i], ' ', a[i + 1]))) AS bg
      FROM toks WHERE len(a) >= 2),
    unigrams AS (
      SELECT unnest(a) AS term FROM toks),
    uc AS (SELECT term, count(*) AS c FROM unigrams GROUP BY term),
    n_uni AS (SELECT count(*) AS n FROM unigrams),
    bc AS (SELECT bg, count(*) AS c_ab FROM bigrams GROUP BY bg),
    scored AS (
      SELECT bg AS bigram, c_ab,
             round(ln(cast(c_ab as double) * n
                      / (cast(ca.c as double) * cast(cb.c as double))), 8) AS pmi
      FROM bc
        JOIN uc ca ON split_part(bg, ' ', 1) = ca.term
        JOIN uc cb ON split_part(bg, ' ', 2) = cb.term
        CROSS JOIN n_uni
      WHERE c_ab >= {PMI_MIN_COUNT})
    SELECT bigram, c_ab, pmi FROM scored
    ORDER BY pmi DESC, bigram LIMIT {PMI_TOP_K}
    """,
)
def bigram_pmi_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOP_K} bigrams by pointwise mutual
    information, min count {PMI_MIN_COUNT} — the classic phrase-
    detection pass (word2vec-style phrase merging). PMI uses unigram
    occurrence counts over ALL tokens as the denominator distribution.
    Shapes: bigram fan-out is a narrow map (transform over the token
    array, no self-join); unigram/bigram counts are map-side-combined
    groupBys; the count tables join on term (bigram side is the big
    one, unigram side stays broadcastable per-term)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias("a")
    )
    bigrams = (
        toks.where(F.size("a") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("a") - 2),
                    lambda i: F.concat(
                        F.element_at(F.col("a"), i + 1),
                        F.lit(" "),
                        F.element_at(F.col("a"), i + 2),
                    ),
                )
            ).alias("bg")
        )
    )
    unigrams = toks.select(F.explode("a").alias("term"))
    uc = unigrams.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n_uni = unigrams.agg(F.count(F.lit(1)).alias("n"))
    bc = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = uc.select(F.col("term").alias("t1"), F.col("c").alias("c1"))
    cb = uc.select(F.col("term").alias("t2"), F.col("c").alias("c2"))
    scored = (
        bc.where(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(F.broadcast(ca), F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("t1"))
        .join(F.broadcast(cb), F.split_part(F.col("bg"), F.lit(" "), F.lit(2)) == F.col("t2"))
        .crossJoin(F.broadcast(n_uni))
        .select(
            F.col("bg").alias("bigram"),
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                8,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bigram").limit(PMI_TOP_K)


@query(
    "dedup_canonical_docs",
    """
    SELECT md5(text) AS content_md5,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup materialization: one canonical survivor (min doc_id)
    per content hash, with the copy count for provenance. The follow-on
    corpus write is ``documents ⋈ keep_doc_id`` (a semi join on the
    surviving ids). Shuffles 16-byte hashes + one id — the cheapest
    possible dedup-apply at 100 TB."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


STRAT_N = 20
_STRAT_SALT = "strat9|"


@query(
    "sample_n_per_lang",
    f"""
    SELECT doc_id, lang, cast(rn as bigint) AS rn FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(concat('{_STRAT_SALT}', cast(doc_id as varchar))), doc_id) AS rn
      FROM documents) WHERE rn <= {STRAT_N}
    """,
)
def sample_n_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n stratified sample: {STRAT_N} docs per language by salted
    hash order — the per-group companion to ``deterministic_sample_docs``
    (reservoir sampling without the RNG: hash order is the shuffle).

    Distributed shape: ``grouped_top_k`` — a window partitioned ONLY by
    the ~|langs|-cardinality group key would funnel the corpus into
    ≤|langs| tasks, so phase one takes the per-(lang, input-partition)
    local top-{STRAT_N} (full parallelism), and the exact per-lang rank
    runs over the pooled ≤ {STRAT_N}·P survivors."""
    from ..operators.scale import grouped_top_k

    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_STRAT_SALT), F.col("doc_id").cast("string")))
    return grouped_top_k(
        d.select("doc_id", "lang"), ["lang"], [key, F.col("doc_id")], STRAT_N, "rn"
    ).select("doc_id", "lang", F.col("rn").cast("long").alias("rn"))


PACK_BUDGET_CHARS = 4096


@query(
    "sequence_pack_greedy",
    f"""
    SELECT doc_id, lang, n_chars,
           cast(floor(cast(cb as double) / {PACK_BUDGET_CHARS}) as bigint) AS pack_id
    FROM (SELECT doc_id, lang, n_chars,
                 coalesce(sum(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM documents)
    """,
)
def sequence_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: contiguous greedy packing
    by cumulative size — doc d joins pack floor(chars_before_d/budget),
    so packs fill to ~budget with at most one overflowing tail doc (the
    standard streaming-pack approximation; exact bin packing is not
    order-stable, hence not distributable). Integer running sums are
    exact in both engines; the /budget floor is a <2^53 double divide.

    Shape: ``grouped_prefix_sum`` — the naive per-lang window funnels
    each language (≈ the whole corpus for ~5 langs) into one task; the
    helper range-exchanges on (lang, doc_id), running-sums per range,
    and closes the gap with a broadcast per-(lang, range) total join —
    exact, fully parallel."""
    from ..operators.scale import grouped_prefix_sum

    d = load(spark, sf_dir, "documents")
    cb = grouped_prefix_sum(
        d.select("doc_id", "lang", "n_chars"), ["lang"], ["doc_id"], "n_chars", "cb"
    )
    return cb.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(F.col("cb").cast("double") / PACK_BUDGET_CHARS).cast("long").alias("pack_id"),
    )


SHINGLE_REP_K = 5  # char-shingle width for repetition detection


@query(
    "repetition_stats",
    f"""
    SELECT doc_id,
           cast(len(sh) as bigint) AS n_shingles,
           cast(len(list_distinct(sh)) as bigint) AS n_uniq_shingles,
           round(1.0 - cast(len(list_distinct(sh)) as double) / len(sh), 8) AS dup_shingle_frac
    FROM (SELECT doc_id,
                 list_transform(generate_series(1, length(text) - {SHINGLE_REP_K} + 1),
                                i -> substr(text, cast(i as int), {SHINGLE_REP_K})) AS sh
          FROM documents WHERE length(text) >= {SHINGLE_REP_K})
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition detection (the Gopher/MassiveText
    repetition filter family): fraction of duplicate char-{SHINGLE_REP_K}-grams
    inside each doc — high values flag boilerplate/looped generations.
    Narrow map (per-row array build + distinct), no shuffle; the row-
    local array is O(len) and never crosses a stage boundary."""
    d = load(spark, sf_dir, "documents").where(F.length("text") >= SHINGLE_REP_K)
    d = d.withColumn(
        "_sh",
        F.transform(
            F.sequence(F.lit(1), F.length("text") - SHINGLE_REP_K + 1),
            lambda i: F.col("text").substr(i, F.lit(SHINGLE_REP_K)),
        ),
    )
    return d.select(
        "doc_id",
        F.size("_sh").cast("long").alias("n_shingles"),
        F.size(F.array_distinct("_sh")).cast("long").alias("n_uniq_shingles"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("_sh")).cast("double") / F.size("_sh"), 8
        ).alias("dup_shingle_frac"),
    )


DECON_EVAL_DOCS = 10  # doc_id < this plays the held-out eval set
DECON_NGRAM = 3  # word n-grams
DECON_MIN_SHARED = 3  # flag docs sharing >= this many distinct n-grams


def _wordgram_sql(src_filter: str) -> str:
    return f"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(a) - {DECON_NGRAM} + 1),
                              i -> concat(a[i], ' ', a[i + 1], ' ', a[i + 2])))) AS gram
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
            FROM documents WHERE {src_filter})
      WHERE len(a) >= {DECON_NGRAM}
    """


@query(
    "decontaminate_overlap",
    f"""
    WITH eval_grams AS ({_wordgram_sql(f"doc_id < {DECON_EVAL_DOCS}")}),
    train_grams AS ({_wordgram_sql(f"doc_id >= {DECON_EVAL_DOCS}")})
    SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
           count(*) AS n_shared_grams
    FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
    GROUP BY t.doc_id, e.doc_id
    HAVING count(*) >= {DECON_MIN_SHARED}
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥{DECON_MIN_SHARED}
    distinct word-{DECON_NGRAM}-grams with any held-out eval doc
    (doc_id < {DECON_EVAL_DOCS} plays the eval set). The gram equi-join
    is the scalable shape (same as ``jaccard_similarity_sample``):
    |pairs| is bounded by actual overlap, never |train|×|eval|; the
    eval side is tiny → broadcasts. At 100 TB you additionally drop
    stop-grams (df above a cap) before the join — the same df-filter
    used in TF-IDF — to bound the hottest keys."""
    d = load(spark, sf_dir, "documents")

    def grams(df: DataFrame) -> DataFrame:
        toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        df = df.withColumn("_a", toks).where(F.size("_a") >= DECON_NGRAM)
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_a") - DECON_NGRAM),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("_a"), i + 1),
                    F.element_at(F.col("_a"), i + 2),
                    F.element_at(F.col("_a"), i + 3),
                ),
            )
        )
        return df.select("doc_id", F.explode(g).alias("gram"))

    ev = grams(d.where(F.col("doc_id") < DECON_EVAL_DOCS)).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    tr = grams(d.where(F.col("doc_id") >= DECON_EVAL_DOCS)).select(
        F.col("doc_id").alias("train_doc_id"), "gram"
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= DECON_MIN_SHARED)
    )


@query(
    "gopher_quality_rules",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_words,
             CASE WHEN len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) = 0 THEN 0.0
                  ELSE cast(len(array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), '')) as double)
                       / len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) END AS mean_word_len,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE cast(len(regexp_extract_all(text, '[#@*]|\\.\\.\\.')) as double) / length(text) END
                 AS symbol_ratio
      FROM documents)
    SELECT doc_id, lang,
           cast(n_words as bigint) AS n_words,
           round(mean_word_len, 8) AS mean_word_len,
           round(symbol_ratio, 8) AS symbol_ratio,
           (n_words >= 10 AND n_words <= 100000) AS rule_word_count,
           (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS rule_word_len,
           (symbol_ratio < 0.05) AS rule_symbols,
           ((n_words >= 10 AND n_words <= 100000)
            AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
            AND (symbol_ratio < 0.05)) AS passes_all
    FROM s
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (public MassiveText filter
    family): word-count bounds, mean-word-length bounds, symbol-to-char
    ratio — emitted as per-rule booleans + the conjunction, so the
    filter is auditable (which rule killed a doc) rather than a silent
    WHERE. Token array projected once; narrow map, no shuffle."""
    d = load(spark, sf_dir, "documents")
    d = d.withColumn(
        "_a", F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
    )
    n_words = F.size("_a")
    mean_wl = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.length(F.concat_ws("", F.col("_a"))).cast("double") / n_words
    )
    sym = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[#@*]|\.\.\."), F.lit(0))).cast(
            "double"
        )
        / F.length("text")
    )
    r1 = (n_words >= 10) & (n_words <= 100000)
    r2 = (mean_wl >= 2.0) & (mean_wl <= 12.0)
    r3 = sym < 0.05
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 8).alias("mean_word_len"),
        F.round(sym, 8).alias("symbol_ratio"),
        r1.alias("rule_word_count"),
        r2.alias("rule_word_len"),
        r3.alias("rule_symbols"),
        (r1 & r2 & r3).alias("passes_all"),
    )


@query(
    "dedup_incremental_batch",
    """
    WITH inc AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 4),
    ex AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 4)
    SELECT doc_id, lang FROM (
      SELECT i.doc_id, d.lang,
             row_number() OVER (PARTITION BY i.h ORDER BY i.doc_id) AS rn
      FROM inc i JOIN documents d ON i.doc_id = d.doc_id
      WHERE i.h NOT IN (SELECT h FROM ex))
    WHERE rn = 1
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: docs with doc_id%5=4 play the incoming
    daily batch, the rest the already-deduped corpus. Survivors = batch
    minus corpus-hash matches minus within-batch copies (min-id wins).
    The anti join ships 16-byte hashes only — the corpus text is never
    rescanned per batch (`operators/incremental.py`). Planted-duplicate
    semantics pinned in tests/test_incremental.py."""
    from ..operators.incremental import dedup_incoming_exact

    d = load(spark, sf_dir, "documents")
    existing = d.where(F.col("doc_id") % 5 != 4)
    incoming = d.where(F.col("doc_id") % 5 == 4)
    return dedup_incoming_exact(existing, incoming).select("doc_id", "lang")


# --- Vocabulary construction + out-of-vocabulary coverage audit: the
# tokenizer-prep stage between corpus cleaning and training.

VOCAB_SIZE = 1000


@query(
    "vocab_oov_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
      FROM documents
    ),
    counts AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY n DESC, term ASC) AS rk
        FROM counts)
      WHERE rk <= {VOCAB_SIZE}
    ),
    marked AS (
      SELECT t.doc_id, t.lang,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.term = v.term
    )
    SELECT lang,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs,
           cast(count(*) as bigint) AS n_tokens,
           cast(sum(oov) as bigint) AS n_oov,
           round(cast(sum(oov) as double) / count(*), 8) AS oov_rate
    FROM marked GROUP BY lang
    """,
)
def vocab_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_SIZE} frequency vocabulary (ties broken by term — the
    deterministic tokenizer-training selection) and per-language OOV
    coverage: what fraction of token occurrences a fixed vocab misses.

    Scale: term counts map-side combine to |terms| rows; the top-V
    selection is ``orderBy().limit()`` — Spark plans
    TakeOrderedAndProject (per-shard top-V, merge V·shards rows), never
    a global-window sort; the vocab itself (V rows) broadcasts back
    onto the token stream, so the only full-stream shuffle is the final
    per-lang agg, which partial-aggregates to |langs| rows per
    partition."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term"),
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(VOCAB_SIZE)
    marked = tok.join(
        F.broadcast(vocab.select("term", F.lit(1).alias("_in_vocab"))), "term", "left"
    )
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    return marked.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        F.round(F.sum(oov).cast("double") / F.count(F.lit(1)), 8).alias("oov_rate"),
    )


@query(
    "unigram_logprob_quality",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
      FROM documents
    ),
    counts AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
    total AS (SELECT cast(count(*) as bigint) AS t FROM tok)
    SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
           round(cast(sum(cast(ln(tf / cast(t as double)) as decimal(18,9))) as double)
                 / count(*), 6) AS avg_logprob
    FROM tok JOIN counts USING (term), total
    GROUP BY doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: train a unigram LM on the corpus
    itself (p(t) = tf(t)/T), score each doc by its mean token
    log-probability. Low scores flag gibberish / rare-token junk; high
    scores flag boilerplate — the cheap LM filter a corpus pipeline
    runs before an expensive model-based one.

    Determinism: per-token ln() is IEEE-identical in both engines; the
    per-doc SUM of doubles is order-dependent, so each term is cast to
    decimal(18,9) first and summed exactly, then divided and rounded —
    the same trick `label_centroids` uses. Output rounds to 6 dp (not
    the usual 8): the mean sits ~1e-16 from arbitrary points, and at
    corpus scale a value eventually lands within an ulp of the 1e-8
    rounding grid where Spark's exact-decimal HALF_UP and DuckDB's
    scaled-multiply round() disagree — observed at sf0.1; the 1e-6
    grid puts the boundary 100× further away than before.

    Scale: counts table is |terms| rows (map-side combined); the join
    back onto the token stream is the only wide op and partial-aggs
    to |docs| rows per partition."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term"),
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = tok.groupBy().agg(F.count(F.lit(1)).alias("t"))
    lp = F.log(F.col("tf") / F.col("t").cast("double")).cast("decimal(18,9)")
    return (
        tok.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(lp).cast("double") / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


@query(
    "normalize_nfc_stats",
    """
    SELECT doc_id,
           nfc_normalize(text) = text AS is_nfc,
           cast(length(text) as bigint) AS n_chars,
           cast(length(nfc_normalize(text)) as bigint) AS n_chars_nfc
    FROM documents
    """,
)
def normalize_nfc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit — the multilingual-cleaning pass
    that canonicalizes decomposed accents/compatibility forms before
    dedup (a decomposed 'é' and a composed one hash differently but ARE
    the same text). Spark side runs an Arrow-batched pandas UDF
    (``functions/text.py::nfc_normalize_col``), the oracle DuckDB's
    native ``nfc_normalize`` — both implement the Unicode standard, so
    the equality flags and lengths match exactly. Narrow map, one
    JVM↔Arrow round-trip per batch; planted-decomposed-text semantics
    pinned in tests/test_nfc.py."""
    from ..functions.text import nfc_normalize_col

    d = load(spark, sf_dir, "documents")
    nfc = nfc_normalize_col(F.col("text"))
    return d.select(
        "doc_id",
        (nfc == F.col("text")).alias("is_nfc"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(nfc).cast("long").alias("n_chars_nfc"),
    )


@query(
    "corpus_materialize_clean",
    f"""
    WITH canon AS (
      SELECT md5(text) AS h, min(doc_id) AS keep FROM documents GROUP BY md5(text)
    ),
    gq AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_words,
             CASE WHEN len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) = 0 THEN 0.0
                  ELSE cast(len(array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), '')) as double)
                       / len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) END AS mwl,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE cast(len(regexp_extract_all(text, '[#@*]|\\.\\.\\.')) as double) / length(text) END AS sym
      FROM documents
    ),
    passing AS (
      SELECT doc_id FROM gq
      WHERE n_words >= 10 AND n_words <= 100000
        AND mwl >= 2.0 AND mwl <= 12.0 AND sym < 0.05
    ),
    eval_grams AS ({_wordgram_sql(f"doc_id < {DECON_EVAL_DOCS}")}),
    train_grams AS ({_wordgram_sql(f"doc_id >= {DECON_EVAL_DOCS}")}),
    flagged AS (
      SELECT t.doc_id FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
      GROUP BY t.doc_id, e.doc_id HAVING count(*) >= {DECON_MIN_SHARED}
    )
    SELECT d.doc_id, d.lang, md5(d.text) AS content_md5
    FROM documents d
    JOIN canon ON md5(d.text) = canon.h AND d.doc_id = canon.keep
    JOIN passing p ON d.doc_id = p.doc_id
    WHERE d.doc_id >= {DECON_EVAL_DOCS}
      AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def corpus_materialize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep ENDGAME in one query — materialize the training
    set that survives every gate: exact-dedup canonical survivors
    (min-id per content hash) ∧ Gopher quality rules ∧ benchmark
    decontamination (no flagged eval overlap, plus the doc_id ≥
    {DECON_EVAL_DOCS} held-out-eval carve-out — no split restriction;
    joining ``dataset_split_assign`` downstream yields all three
    splits). This is the query a 100 TB pipeline writes as its output
    table; each stage is individually oracle-checked
    (``dedup_canonical_docs``, ``gopher_quality_rules``,
    ``decontaminate_overlap``) and the composition re-verifies them
    end-to-end.

    Shapes: dedup joins ship (hash, id) pairs; the quality gate is a
    narrow map; decontamination's gram join broadcasts the tiny eval
    side; the final assembly is two equi-joins + one broadcast anti
    join on ids."""
    d = load(spark, sf_dir, "documents")
    canon = dedup_canonical_docs(spark, sf_dir).select(
        F.col("content_md5"), F.col("keep_doc_id").alias("doc_id")
    )
    passing = (
        gopher_quality_rules(spark, sf_dir)
        .where(F.col("passes_all"))
        .select("doc_id")
    )
    flagged = (
        decontaminate_overlap(spark, sf_dir)
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
    )
    return (
        d.where(F.col("doc_id") >= DECON_EVAL_DOCS)
        .withColumn("content_md5", F.md5("text"))
        .join(canon, ["doc_id", "content_md5"])  # survivor ⇔ min-id for its hash
        .join(passing, "doc_id", "left_semi")
        .join(F.broadcast(flagged), "doc_id", "left_anti")
        .select("doc_id", "lang", "content_md5")
    )


TEMPORAL_TRAIN_FRAC = 0.8


@query(
    "temporal_split_audit",
    f"""
    WITH tot AS (SELECT count(*) AS n FROM events),
    ranked AS (
      SELECT event_id, user_id, ts,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    ),
    lab AS (
      SELECT *, rn <= cast(floor({TEMPORAL_TRAIN_FRAC} * n) as bigint) AS is_train
      FROM ranked, tot
    )
    SELECT cast(sum(CASE WHEN is_train THEN 1 ELSE 0 END) as bigint) AS n_train,
           cast(sum(CASE WHEN is_train THEN 0 ELSE 1 END) as bigint) AS n_test,
           max(CASE WHEN is_train THEN ts END)
             <= min(CASE WHEN NOT is_train THEN ts END) AS boundary_ok,
           cast((SELECT count(*) FROM (
              SELECT user_id FROM lab WHERE is_train
              INTERSECT
              SELECT user_id FROM lab WHERE NOT is_train)) as bigint) AS n_overlap_users
    FROM lab
    """,
)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split + leakage audit — the split an
    event-derived training set must use (hash splits leak the future
    into training): first {TEMPORAL_TRAIN_FRAC:.0%} of events by
    (ts, event_id) order are train, the rest test. Emits the boundary
    sanity check (no train timestamp past the first test timestamp) and
    the user-overlap count — users appearing on both sides are the
    entity-level leakage a stricter split would group by.

    The exact (ts, event_id) rank is computed scale-safely — range
    exchange + per-range row_number + broadcast prefix counts
    (``with_global_rank``), never a single-partition window sort; a
    production split can further cheapen this to a percentile-sketch
    cutoff TIMESTAMP and a narrow comparison."""
    from ..operators.scale import with_global_rank

    ev = load(spark, sf_dir, "events")

    tot = ev.groupBy().agg(F.count(F.lit(1)).alias("n"))
    ranked = with_global_rank(
        ev.select("event_id", "user_id", "ts"), ["ts", "event_id"], "rn"
    ).crossJoin(F.broadcast(tot))
    lab = ranked.withColumn(
        "is_train", F.col("rn") <= F.floor(TEMPORAL_TRAIN_FRAC * F.col("n")).cast("long")
    )
    tr_users = lab.where("is_train").select("user_id")
    te_users = lab.where(~F.col("is_train")).select("user_id")
    overlap = tr_users.intersect(te_users).groupBy().agg(
        F.count(F.lit(1)).alias("n_overlap_users")
    )
    return (
        lab.groupBy()
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0)).cast("long").alias("n_train"),
            F.sum(F.when(F.col("is_train"), 0).otherwise(1)).cast("long").alias("n_test"),
            (
                F.max(F.when(F.col("is_train"), F.col("ts")))
                <= F.min(F.when(~F.col("is_train"), F.col("ts")))
            ).alias("boundary_ok"),
        )
        .crossJoin(F.broadcast(overlap))
        .select("n_train", "n_test", "boundary_ok", F.col("n_overlap_users").cast("long").alias("n_overlap_users"))
    )


# --------------------------------------------------------------------------
# Column profiling — the reconnaissance pass over a new data drop
# --------------------------------------------------------------------------

_PROFILE_TABLE = "orders"
# (column, slot): which typed min/max slot the column fills.
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, slot in _PROFILE_COLS:
        mn_num = f"cast(min({c}) as double)" if slot == "num" else "cast(NULL as double)"
        mx_num = f"cast(max({c}) as double)" if slot == "num" else "cast(NULL as double)"
        mn_str = f"cast(min({c}) as varchar)" if slot == "str" else "cast(NULL as varchar)"
        mx_str = f"cast(max({c}) as varchar)" if slot == "str" else "cast(NULL as varchar)"
        mn_ts = f"min({c})" if slot == "ts" else "cast(NULL as timestamp)"
        mx_ts = f"max({c})" if slot == "ts" else "cast(NULL as timestamp)"
        parts.append(f"""
        SELECT '{c}' AS col_name,
               cast(count(*) as bigint) AS n_rows,
               cast(count(*) - count({c}) as bigint) AS n_nulls,
               cast(count(distinct {c}) as bigint) AS n_distinct,
               {mn_num} AS min_num, {mx_num} AS max_num,
               {mn_str} AS min_str, {mx_str} AS max_str,
               {mn_ts} AS min_ts, {mx_ts} AS max_ts
        FROM {_PROFILE_TABLE}""")
    return "\nUNION ALL\n".join(parts)


@query("column_profile_orders", _profile_oracle())
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan profile of every ``orders`` column: null count,
    exact distinct count, typed min/max. The oracle is the UNION-ALL
    per-column spelling; the Spark side is ONE agg (the oracle scans
    the table once per column — the profiler's whole point is that
    Spark does not). At 100 TB switch ``exact_distinct=False`` for
    HLL++ sketches: one stream instead of an |columns|-way Expand."""
    from ..operators.profile import column_profile

    return column_profile(load(spark, sf_dir, _PROFILE_TABLE))


# --------------------------------------------------------------------------
# Weighted sampling — importance/curriculum sampling without an RNG
# --------------------------------------------------------------------------

_WSAMP_SALT = "wsamp1|"
_WSAMP_N = 100
_TWO_POW_60 = 1152921504606846976  # exact as a double


def _wsamp_key_sql() -> str:
    h = (
        f"cast(concat('0x', substr(md5(concat('{_WSAMP_SALT}', cast(doc_id as varchar))), 1, 15)) "
        "as bigint)"
    )
    return (
        f"ln(cast({h} + 1 as double) / cast({_TWO_POW_60} as double)) "
        "/ cast(n_chars as double)"
    )


@query(
    "weighted_sample_docs",
    f"""
    SELECT doc_id, cast(n_chars as bigint) AS n_chars,
           round({_wsamp_key_sql()}, 8) AS samp_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY round({_wsamp_key_sql()}, 8) DESC, doc_id
    LIMIT {_WSAMP_N}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample (Efraimidis–Spirakis A-RES): each doc
    gets key ln(u)/w with u a salted-hash uniform in (0,1] and
    w = n_chars; the global top-{_WSAMP_N} keys ARE a w-proportional
    without-replacement sample. No RNG: the sample is a pure function
    of doc ids (stable across re-runs/insertions like the split
    assignment), and re-keying is never needed when new docs arrive —
    merging top-k sets is enough (the property that matters for
    incremental 100 TB curation: each shard computes its local top-k,
    a tiny merge picks the global sample — TakeOrdered, no shuffle of
    the corpus). Keys are rounded to 8 dp with doc_id tie-break so the
    boundary is engine-exact; ln ordering equals the classic u^(1/w).
    """
    d = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(_WSAMP_SALT), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(_TWO_POW_60).cast("double")
    raw = F.log(u) / F.col("n_chars").cast("double")
    keyed = d.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), F.round(raw, 8).alias("samp_key")
    )
    return keyed.orderBy(F.col("samp_key").desc(), F.col("doc_id")).limit(_WSAMP_N)


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram ML estimate


@query(
    "bigram_lm_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
      FROM documents),
    bigrams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 1),
                                           i -> concat(a[i], ' ', a[i + 1]))) AS bg
      FROM toks WHERE len(a) >= 2),
    unigrams AS (SELECT unnest(a) AS term FROM toks),
    uc AS (SELECT term, count(*) AS c FROM unigrams GROUP BY term),
    n_uni AS (SELECT cast(count(*) as bigint) AS t FROM unigrams),
    bc AS (SELECT bg, count(*) AS c_ab FROM bigrams GROUP BY bg),
    inst AS (
      SELECT b.doc_id,
             ln(cast({BIGRAM_LAMBDA} as double) * (c_ab / cast(ca.c as double))
                + cast({1 - BIGRAM_LAMBDA} as double) * (cb.c / cast(t as double))) AS logp
      FROM bigrams b
        JOIN bc ON b.bg = bc.bg
        JOIN uc ca ON split_part(b.bg, ' ', 1) = ca.term
        JOIN uc cb ON split_part(b.bg, ' ', 2) = cb.term
        CROSS JOIN n_uni)
    SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           round(cast(sum(cast(logp as decimal(18,9))) as double) / count(*), 6) AS avg_logprob
    FROM inst GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score: p(w2|w1) = λ·c(w1w2)/c(w1)
    + (1-λ)·c(w2)/T with λ={BIGRAM_LAMBDA}, scored as each doc's mean
    bigram log-probability — one rung above the unigram filter (catches
    word-salad whose unigrams are individually common). Same float
    discipline as ``unigram_logprob_quality``: per-instance ln() is
    IEEE-identical, the per-doc sum is decimal-exact, and the mean
    rounds to 6 dp (see the unigram docstring for the grid-boundary
    rationale — an 8-dp boundary hit was observed at sf0.1).

    Scale: bigram fan-out is a narrow array transform; count tables
    aggregate map-side; the instance joins are equi-joins on bigram /
    term keys — the token stream shuffles, counts broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias("a"),
    )
    mk_bg = F.transform(
        F.sequence(F.lit(1), F.size("a") - 1),
        lambda i: F.concat(F.get(F.col("a"), i - 1), F.lit(" "), F.get(F.col("a"), i)),
    )
    bigrams = (
        toks.where(F.size("a") >= 2)
        .select("doc_id", F.explode(mk_bg).alias("bg"))
    )
    unigrams = toks.select(F.explode("a").alias("term"))
    uc = unigrams.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n_uni = unigrams.groupBy().agg(F.count(F.lit(1)).cast("long").alias("t"))
    bc = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    inst = (
        bigrams.join(bc, "bg")
        .join(uc.select(F.col("term").alias("_t1"), F.col("c").alias("c_a")), w1 == F.col("_t1"))
        .join(uc.select(F.col("term").alias("_t2"), F.col("c").alias("c_b")), w2 == F.col("_t2"))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "doc_id",
            F.log(
                F.lit(BIGRAM_LAMBDA) * (F.col("c_ab") / F.col("c_a").cast("double"))
                + F.lit(1 - BIGRAM_LAMBDA) * (F.col("c_b") / F.col("t").cast("double"))
            ).alias("logp"),
        )
    )
    return inst.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("logp").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


# Cross-doc substring-level dedup signal (word n-grams, after Lee et
# al. 2021 "Deduplicating Training Data Makes Language Models Better" —
# their 50-token threshold scaled down to the synthetic docs here).
CROSSDOC_NGRAM = 8


def _crossdoc_gram_sql() -> str:
    n = CROSSDOC_NGRAM
    return f"""
      SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
                  FROM documents)
            WHERE len(t) >= {n})
    """


def _crossdoc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gram) — one row per {CROSSDOC_NGRAM}-token window.

    Plan shape: the window fan-out is a codegen'd transform over the
    token array (no per-window shuffle); only the exploded (doc_id,
    gram) rows hit the wire, and every downstream consumer aggregates
    them map-side first."""
    n = CROSSDOC_NGRAM
    # r16 OPTIMIZATION: single-file scan-serialization guard — the
    # tokenize+gram fan-out below otherwise runs on one core for a
    # one-file corpus (the minhash-kernel hazard; identity on
    # multi-file inputs). Shared by all five cross-doc gram consumers.
    from ..operators.scale import ensure_scan_parallelism

    d = ensure_scan_parallelism(
        load(spark, sf_dir, "documents"), label="crossdoc grams documents scan"
    )
    toks = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias("t"),
    ).where(F.size("t") >= n)
    # sequence() flips to step -1 when start > stop, so the >= n guard
    # above is load-bearing: it keeps the sequence bounds non-inverted.
    gram = F.expr(
        f"explode(transform(sequence(0, size(t) - {n}), i -> array_join(slice(t, i + 1, {n}), ' ')))"
    )
    return toks.select("doc_id", gram.alias("gram"))


@query(
    "crossdoc_ngram_dup_fraction",
    f"""
    WITH grams AS ({_crossdoc_gram_sql()}),
    freq AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram)
    SELECT g.doc_id,
           cast(count(*) as bigint) AS n_grams,
           cast(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup_grams,
           round(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END)::double / count(*), 6) AS dup_fraction
    FROM grams g JOIN freq f USING (gram)
    GROUP BY g.doc_id
    """,
)
def crossdoc_ngram_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of {CROSSDOC_NGRAM}-token windows that also
    occur in at least one OTHER document — the substring-granularity
    dedup signal that doc-level MinHash misses (boilerplate headers,
    quoted passages, template text).

    Scale shape: gram fan-out is |tokens| rows/doc; the frequency table
    partial-aggregates to distinct grams before its shuffle, and the
    gram→doc rejoin is an equi-join on the gram key (never all-pairs).
    Docs shorter than the window drop out by construction (documented).
    At 100 TB the gram key would be md5(gram) to bound shuffle width;
    kept as the raw string here so the oracle shares the exact key."""
    grams = _crossdoc_grams(spark, sf_dir)
    freq = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        grams.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(dup).cast("long").alias("n_dup_grams"),
            F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias("dup_fraction"),
        )
    )


@query(
    "boilerplate_ngrams_top20",
    f"""
    WITH grams AS ({_crossdoc_gram_sql()})
    SELECT gram,
           cast(count(*) as bigint) AS n_occurrences,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs
    FROM grams
    GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 20
    """,
)
def boilerplate_ngrams_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the 20 most frequent {CROSSDOC_NGRAM}-token
    windows corpus-wide with their doc spread — the candidates a
    cleaning pass would strip. Deterministic LIMIT via the (count DESC,
    gram) total order; Spark plans the top-k as TakeOrderedAndProject,
    so only 20 rows survive past the agg."""
    grams = _crossdoc_grams(spark, sf_dir)
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(20)
    )


# BPE tokenizer training (Sennrich et al. 2016): iteratively merge the
# most frequent adjacent symbol pair. The classic preprocessing-train
# step of an LLM data pipeline; here as a driver-controlled loop of
# DataFrame ops (argmax collected per round, like the k-means
# centroids), with the merge applied as a left-to-right greedy fold.
BPE_MERGES = 3


def _bpe_seq1_sql() -> str:
    return f"""
    seq1 AS (
      SELECT term AS word, cast(count(*) as bigint) AS wf,
             regexp_extract_all(term, '.') AS ch
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
            FROM documents)
      GROUP BY term)
    """


def _bpe_iter_sql(k: int) -> str:
    """One unrolled BPE round: weighted pair counts → deterministic
    argmax → greedy left-to-right non-overlapping merge. Consecutive
    overlapping matches only occur for a==b runs, where the `off % 2`
    parity keeps every other one — exactly the greedy fold's choice."""
    return f"""
    pairs{k} AS (
      SELECT ch[i] AS a, ch[i + 1] AS b, cast(sum(wf) as bigint) AS c
      FROM seq{k}, unnest(generate_series(1, len(ch) - 1)) AS g(i)
      WHERE len(ch) >= 2
      GROUP BY 1, 2),
    best{k} AS (SELECT a, b, c FROM pairs{k} ORDER BY c DESC, a, b LIMIT 1),
    seqL{k} AS (
      SELECT word, wf, i AS pos, ch[i] AS tok
      FROM seq{k}, unnest(generate_series(1, len(ch))) AS g(i)),
    match{k} AS (
      SELECT m.word, m.pos FROM (
        SELECT word, pos, tok, lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM seqL{k}) m, best{k} b
      WHERE m.tok = b.a AND m.nxt = b.b),
    sel{k} AS (
      SELECT word, pos FROM (
        SELECT word, pos, pos - min(pos) OVER (PARTITION BY word, rid) AS off
        FROM (SELECT word, pos,
                     pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS rid
              FROM match{k}))
      WHERE off % 2 = 0),
    seq{k + 1} AS (
      SELECT l.word, l.wf,
             list(CASE WHEN s.pos IS NOT NULL THEN l.tok || n.tok ELSE l.tok END
                  ORDER BY l.pos) AS ch
      FROM seqL{k} l
      LEFT JOIN sel{k} s ON l.word = s.word AND l.pos = s.pos
      LEFT JOIN sel{k} s2 ON l.word = s2.word AND l.pos = s2.pos + 1
      LEFT JOIN seqL{k} n ON l.word = n.word AND n.pos = l.pos + 1
      WHERE s2.pos IS NULL
      GROUP BY l.word, l.wf)
    """


def _bpe_oracle() -> str:
    iters = ",".join(_bpe_iter_sql(k).strip().rstrip(",") for k in range(1, BPE_MERGES + 1))
    finals = " UNION ALL ".join(
        f"SELECT cast({k} as bigint) AS step, a AS lhs, b AS rhs, c AS pair_count FROM best{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"WITH {_bpe_seq1_sql().strip().rstrip(',')}, {iters} {finals}"


def _bpe_fold_merge_expr(a: str, b: str, src: str = "ch") -> str:
    """Greedy left-to-right merge of adjacent (a, b) as an aggregate
    fold: merge when the accumulator's tail is `a` AND the incoming
    symbol is `b`. A just-merged tail equals `a||b`, never `a` (b is
    non-empty), so a merged token can't chain-merge within the round —
    the same non-overlap rule the oracle's parity selection encodes.

    ``src`` is the input array expression — the batched trainer chains
    several folds into ONE projection by nesting them."""
    ab = a + b
    return (
        f"aggregate({src}, cast(array() as array<string>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = '{a}' AND x = '{b}', "
        f"concat(slice(acc, 1, size(acc) - 1), array('{ab}')), "
        "concat(acc, array(x))))"
    )


def _bpe_train(spark: SparkSession, sf_dir: str, n_merges: int | None = None):
    """Shared BPE training pass (Sennrich et al. 2016): returns the
    merge list AND the final segmented word-frequency DataFrame, so the
    train query and the apply query run the per-merge pair-count +
    1-row-collect loop exactly ONCE between them.

    Scale shape: BPE trains on the WORD-FREQUENCY table, not the token
    stream — one groupBy reduces the corpus to |vocab| rows, and every
    round is a pair-explode + weighted count over that table (map-side
    combinable), an argmax of |symbol-pairs| rows collected to the
    driver for control flow (the k-means-centroid pattern), and a
    narrow fold applying the merge."""
    seq = _bpe_word_seq(spark, sf_dir)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, (n_merges or BPE_MERGES) + 1):
        best = _bpe_pair_counts(seq).orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, c = best[0].a, best[0].b, int(best[0].c)
        merges.append((step, a, b, c))
        seq = seq.select("word", "wf", F.expr(_bpe_fold_merge_expr(a, b)).alias("ch"))
    return merges, seq


def _bpe_word_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency table with each word split to its base-character
    symbol sequence — the |vocab|-row frame both trainers iterate on."""
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
    )
    return wf.select("word", "wf", F.expr("filter(split(word, ''), x -> x <> '')").alias("ch"))


def _bpe_pair_counts(seq: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts over the segmented vocab —
    pair-explode + partial-agg'd weighted sum (map-side combinable)."""
    return (
        seq.where(F.size("ch") >= 2)
        .select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ch) - 1), "
                    "i -> struct(element_at(ch, i) AS a, element_at(ch, i + 1) AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wf").cast("long").alias("c"))
    )


def _bpe_train_batched(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int | None = None,
    batch_size: int = 8,
):
    """Batched BPE training — the production-merge-count scale path
    (VERDICT r5 item 5). Sequential training is one driver round-trip
    PER merge; at 30k+ merges that is 30k sequential Spark jobs of pure
    scheduler latency. This variant collects the top pair candidates
    once per ROUND and merges a disjoint PREFIX of them (public
    SentencePiece-style batching), cutting round-trips by ~batch_size×.

    Exactness argument: the batch keeps candidates in sequential pick
    order (desc count, then lexicographic) and STOPS at the first
    candidate sharing a symbol with an earlier pick (or equal to one of
    its merged outputs). Symbol-disjoint merges cannot change each
    other's occurrence counts — a merge only destroys pairs touching
    its own symbols and creates pairs containing its output — so every
    kept candidate has exactly the count and rank sequential training
    would have seen, UNLESS a pair created mid-batch would have
    outranked a later pick. That corner is corpus-dependent; the parity
    test pins batched ≡ sequential (merge list AND final segmentation)
    on the fixture corpus, and ``batch_size=1`` degenerates to the
    sequential trainer exactly. The 1-merge-per-round spelling remains
    the registered oracle."""
    seq = _bpe_word_seq(spark, sf_dir)
    target = n_merges or BPE_MERGES
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < target:
        # over-fetch so a conflict-cut prefix still fills the batch budget
        top = (
            _bpe_pair_counts(seq)
            .orderBy(F.desc("c"), "a", "b")
            .limit(max(batch_size * 4, 16))
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for r in top:
            if len(batch) >= batch_size or len(merges) + len(batch) >= target:
                break
            if r.a in used or r.b in used or r.a + r.b in used:
                break  # prefix rule: later picks would reorder vs sequential
            batch.append((r.a, r.b, int(r.c)))
            used.update((r.a, r.b, r.a + r.b))
        for a, b, c in batch:
            merges.append((len(merges) + 1, a, b, c))
        src = "ch"
        for a, b, _ in batch:  # disjoint → folds commute; one projection
            src = _bpe_fold_merge_expr(a, b, src)
        seq = seq.select("word", "wf", F.expr(src).alias("ch"))
    return merges, seq


@query("bpe_train_merges", _bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merges over the corpus vocabulary —
    tokenizer training as Spark dataflow (see ``_bpe_train`` for the
    scale shape). The oracle unrolls all {BPE_MERGES} rounds in SQL —
    two different merge implementations (greedy fold vs window-parity
    selection), one answer."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step bigint, lhs string, rhs string, pair_count bigint"
    )


def _bpe_apply_oracle() -> str:
    iters = ",".join(_bpe_iter_sql(k).strip().rstrip(",") for k in range(1, BPE_MERGES + 1))
    return f"""
    WITH {_bpe_seq1_sql().strip().rstrip(',')}, {iters}
    SELECT tok AS symbol,
           cast(sum(wf) as bigint) AS total_count,
           cast(count(DISTINCT word) as bigint) AS n_words
    FROM (SELECT word, wf, unnest(ch) AS tok FROM seq{BPE_MERGES + 1})
    GROUP BY tok
    """


@query("bpe_apply_symbol_stats", _bpe_apply_oracle())
def bpe_apply_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges and report the resulting symbol
    vocabulary: corpus-weighted occurrence counts and word spread per
    symbol — the train→apply half of the tokenizer story.

    The production shape this pins: segmentation is computed ONCE per
    distinct word (|vocab| rows), never per token occurrence — the
    tokenized vocab then broadcast-joins onto any stream. Reuses the
    segmented vocabulary from the single shared training pass
    (``_bpe_train``) — the per-merge pair-count loop is NOT re-run —
    then explodes the final symbol sequences weighted by word
    frequency."""
    _, seq = _bpe_train(spark, sf_dir)
    return (
        seq.select("word", "wf", F.explode("ch").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.sum("wf").cast("long").alias("total_count"),
            F.countDistinct("word").cast("long").alias("n_words"),
        )
    )


def _quality_decile_oracle() -> str:
    from . import REGISTRY

    return f"""
    WITH q AS ({REGISTRY["unigram_logprob_quality"].oracle}),
    tiered AS (
      SELECT doc_id, avg_logprob,
             ntile(10) OVER (ORDER BY avg_logprob, doc_id) AS decile
      FROM q)
    SELECT cast(decile as bigint) AS decile,
           cast(count(*) as bigint) AS n_docs,
           round(min(avg_logprob), 6) AS min_quality,
           round(max(avg_logprob), 6) AS max_quality
    FROM tiered GROUP BY decile
    """


@query("quality_decile_tiers", _quality_decile_oracle())
def quality_decile_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tiering for shard selection: deciles of the unigram-LM
    quality score (deterministic ntile — doc_id tiebreak), with each
    tier's population and score range. The downstream contract is
    'train on deciles 4-10, route 1-3 to review'; this query is the
    audit table that decision reads. Composes the registered quality
    query's oracle verbatim.

    The decile assignment is exact positional ntile computed
    scale-safely (``with_global_ntile``: range exchange + per-range
    rank + broadcast prefix counts + closed-form bucket), never a
    single-partition window sort over all docs."""
    from ..operators.scale import with_global_ntile

    q = unigram_logprob_quality(spark, sf_dir).select("doc_id", "avg_logprob")
    tiered = with_global_ntile(q, 10, ["avg_logprob", "doc_id"], "decile").select(
        "avg_logprob", "decile"
    )
    return tiered.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.min("avg_logprob"), 6).alias("min_quality"),
        F.round(F.max("avg_logprob"), 6).alias("max_quality"),
    )


# --------------------------------------------------------------------------
# Round-5 additions — tokenizer/corpus-mix/novelty/drift metrics, the
# remaining audit surfaces a training-data pipeline reads before a run.
# --------------------------------------------------------------------------

# GPT-style pre-tokenizer piece classes: letter runs / digit runs /
# single non-space symbol (same classes as textops.token_counts_bpe_ish).
_PIECE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "tokenizer_fertility_by_lang",
    f"""
    WITH per_doc AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(regexp_extract_all(lower(text), '{_PIECE_RE}')) AS n_pieces,
             list_sum(list_transform(regexp_extract_all(lower(text), '{_PIECE_RE}'),
                      x -> length(x))) AS piece_chars
      FROM documents WHERE length(trim(text)) > 0)
    SELECT lang,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_words) as bigint) AS n_words,
           cast(sum(n_pieces) as bigint) AS n_pieces,
           round(cast(sum(n_pieces) as double) / sum(n_words), 6) AS fertility,
           round(cast(sum(piece_chars) as double) / sum(n_pieces), 6) AS chars_per_piece
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: pieces-per-word and chars-per-piece by
    language under a GPT-style pre-tokenizer segmentation — the metric
    tokenizer evaluations report per language (high fertility = the
    vocabulary under-serves that language, inflating training cost).

    Shape: narrow per-doc maps (regexp counts + a local array-length
    fold — no explode, the token stream never materializes as rows),
    then one combinable per-lang agg. All ratios divide exact integer
    sums, rounded identically in both engines."""
    d = load(spark, sf_dir, "documents").where(F.length(F.trim(F.col("text"))) > 0)
    pieces = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_PIECE_RE), F.lit(0))
    per_doc = d.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
        F.size(pieces).alias("n_pieces"),
        F.aggregate(
            F.transform(pieces, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("piece_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
        F.round(F.sum("n_pieces").cast("double") / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("piece_chars").cast("double") / F.sum("n_pieces"), 6).alias(
            "chars_per_piece"
        ),
    )


MIXTURE_ALPHA = 0.5  # temperature exponent: sqrt smoothing


@query(
    "corpus_mixture_weights",
    """
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT cast(sum(n) as bigint) AS nd FROM counts),
    smoothed AS (
      SELECT lang, n, cast(round(sqrt(n::double / nd), 9) as decimal(18,9)) AS s
      FROM counts, tot),
    z AS (SELECT sum(s) AS z FROM smoothed)
    SELECT lang,
           cast(n as bigint) AS n_docs,
           round(cast(s as double), 9) AS smoothed_share,
           round(cast(s as double) / cast(z as double), 6) AS mixture_weight
    FROM smoothed, z
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture weights (alpha = 0.5): the
    sampling distribution multilingual training runs use to up-weight
    low-resource languages — w_i = p_i^alpha / sum_j p_j^alpha over the
    per-language document shares.

    Determinism: sqrt of an exact-integer ratio is IEEE-identical; each
    smoothed share is rounded to 9 dp and accumulated as exact decimal
    before the normalizing division (the float-reduction discipline).
    Shape: one tiny per-lang agg, two broadcast scalars."""
    counts = load(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("nd"))
    smoothed = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.round(F.sqrt(F.col("n").cast("double") / F.col("nd")), 9)
        .cast("decimal(18,9)")
        .alias("s"),
    )
    z = smoothed.agg(F.sum("s").alias("z"))
    return smoothed.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("s").cast("double"), 9).alias("smoothed_share"),
        F.round(F.col("s").cast("double") / F.col("z").cast("double"), 6).alias(
            "mixture_weight"
        ),
    )


NOVELTY_NGRAM = 3


def _novelty_gram_sql() -> str:
    n = NOVELTY_NGRAM
    return f"""
      SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
                  FROM documents)
            WHERE len(t) >= {n})
    """


@query(
    "ngram_novelty_rate",
    f"""
    WITH grams AS ({_novelty_gram_sql()}),
    dg AS (SELECT DISTINCT doc_id, gram FROM grams),
    first_seen AS (SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram)
    SELECT d.doc_id,
           cast(count(*) as bigint) AS n_distinct_grams,
           cast(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) as bigint) AS n_novel,
           round(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)::double
                 / count(*), 6) AS novelty_rate
    FROM dg d JOIN first_seen f USING (gram)
    GROUP BY d.doc_id
    """,
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: fraction of a document's distinct
    {NOVELTY_NGRAM}-grams that first appear in THAT document under
    doc_id order — the incremental-information signal a curriculum or
    dedup-priority pass ranks by (low novelty = the doc mostly restates
    earlier corpus content).

    Shape: gram fan-out is narrow; first-seen is a combinable
    min-aggregate per gram; the rejoin is an equi-join on the gram key
    (never all-pairs). Same gram-key discipline as
    ``crossdoc_ngram_dup_fraction`` (md5 the key at 100 TB)."""
    n = NOVELTY_NGRAM
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)).alias("t"),
    ).where(F.size("t") >= n)
    gram = F.expr(
        f"explode(transform(sequence(0, size(t) - {n}), i -> array_join(slice(t, i + 1, {n}), ' ')))"
    )
    dg = toks.select("doc_id", gram.alias("gram")).distinct()
    first_seen = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        dg.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias("novelty_rate"),
        )
    )


PSI_BUCKET_CHARS = 500  # length-bucket width
PSI_BUCKET_CAP = 20  # open-ended top bucket


@query(
    "length_drift_psi",
    f"""
    WITH lab AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS snap_a,
             least(length(text) // {PSI_BUCKET_CHARS}, {PSI_BUCKET_CAP}) AS bucket
      FROM documents),
    per_bucket AS (
      SELECT bucket,
             sum(snap_a) AS na,
             sum(1 - snap_a) AS nb
      FROM lab GROUP BY bucket),
    tots AS (
      SELECT cast(sum(na) as bigint) AS ta, cast(sum(nb) as bigint) AS tb,
             cast(count(*) as bigint) AS k
      FROM per_bucket),
    terms AS (
      SELECT bucket,
             cast(round(
               ((na + 1)::double / (ta + k) - (nb + 1)::double / (tb + k))
               * ln(((na + 1)::double / (ta + k)) / ((nb + 1)::double / (tb + k))),
               9) as decimal(18,9)) AS term
      FROM per_bucket, tots)
    SELECT (SELECT k FROM tots) AS n_buckets,
           round(cast(sum(term) as double), 6) AS psi
    FROM terms
    """,
)
def length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check between two corpus
    snapshots (even vs odd doc_id here; in production, yesterday's drop
    vs today's): PSI over capped 500-char length buckets with Laplace
    smoothing — the standard ingest-monitoring alarm (PSI > 0.2 =
    investigate the feed).

    Determinism: buckets are pure integer division (no float log
    binning); every per-bucket PSI term divides exact integers, is
    rounded to 9 dp, and accumulates as exact decimal. Shape: one
    combinable two-way count per bucket, broadcast totals, one-row
    output."""
    lab = load(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("snap_a"),
        F.least(
            F.expr(f"length(text) div {PSI_BUCKET_CHARS}"), F.lit(PSI_BUCKET_CAP)
        ).alias("bucket"),
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum("snap_a").alias("na"), F.sum(1 - F.col("snap_a")).alias("nb")
    )
    tots = per_bucket.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    pa = (F.col("na") + 1).cast("double") / (F.col("ta") + F.col("k"))
    pb = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("k"))
    terms = per_bucket.crossJoin(F.broadcast(tots)).select(
        F.col("k"),
        F.round((pa - pb) * F.log(pa / pb), 9).cast("decimal(18,9)").alias("term"),
    )
    return terms.groupBy("k").agg(
        F.round(F.sum("term").cast("double"), 6).alias("psi")
    ).select(F.col("k").alias("n_buckets"), "psi")


def _decon_lsh_oracle() -> str:
    from .textops import MINHASH_PERMS, N_LSH_BANDS, SHINGLE_K, _MH_P

    mins_cols = ", ".join(
        f"min(({a} * bh + {b}) % {_MH_P}) AS m{i}" for i, a, b in MINHASH_PERMS
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, "
        f"concat(m{4 * band}, '|', m{4 * band + 1}, '|', m{4 * band + 2}, '|', m{4 * band + 3}) AS sig "
        "FROM mins"
        for band in range(N_LSH_BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(substr(text, cast(i as int), {SHINGLE_K})), 1, 15)) as bigint)
               % {_MH_P} AS bh
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K}
    ),
    mins AS (SELECT doc_id, {mins_cols} FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, band, md5(sig) AS band_hash FROM ({band_union})),
    ev AS (SELECT * FROM bands WHERE doc_id < {DECON_EVAL_DOCS}),
    tr AS (SELECT * FROM bands WHERE doc_id >= {DECON_EVAL_DOCS})
    SELECT t.doc_id,
           cast(count(DISTINCT e.doc_id) as bigint) AS n_eval_matches,
           cast(count(*) as bigint) AS n_band_hits
    FROM tr t JOIN ev e ON t.band = e.band AND t.band_hash = e.band_hash
    GROUP BY t.doc_id
    """


@query("minhash_decontaminate", _decon_lsh_oracle())
def minhash_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the MinHash complement to
    ``decontaminate_overlap``'s exact 3-gram rule: a training doc is
    flagged when any LSH band of its character-shingle MinHash
    signature collides with a held-out eval doc's (near-duplicate at
    the ~0.84-Jaccard banding operating point, catching paraphrase-ish
    contamination exact n-grams miss).

    Shape: one signature pass over the corpus, split into the tiny eval
    side (broadcasts) and the train side, then an equi-join on
    (band, band_hash) — never train×eval all-pairs. Empty result on
    this synthetic corpus (all texts distinct) is the agreement the
    oracle checks, same as ``minhash_lsh_candidate_pairs``."""
    return _decontaminate_lsh(spark, sf_dir, hash_mode="md5")


@query("minhash_decontaminate_xxh", None)
def minhash_decontaminate_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of ``minhash_decontaminate``: identical
    banding pipeline on Spark-native ``xxhash64`` shingle hashes (pure
    JVM integer path — no hex strings, no base-16 conversion). Rows-only
    (DuckDB has no xxhash64; the md5 twin carries the oracle); the
    planted-contamination test pins that both modes flag the same
    train docs."""
    return _decontaminate_lsh(spark, sf_dir, hash_mode="xxhash64")


def _decontaminate_lsh(spark: SparkSession, sf_dir: str, hash_mode: str) -> DataFrame:
    from .textops import N_LSH_BANDS, _minhash_wide

    mins = _minhash_wide(spark, sf_dir, hash_mode=hash_mode)
    band_rows = ", ".join(
        f"cast({band} as bigint), md5(concat_ws('|', cast(m{4 * band} as string), "
        f"cast(m{4 * band + 1} as string), cast(m{4 * band + 2} as string), "
        f"cast(m{4 * band + 3} as string)))"
        for band in range(N_LSH_BANDS)
    )
    bands = mins.select(
        "doc_id",
        F.expr(f"stack({N_LSH_BANDS}, {band_rows}) AS (band, band_hash)"),
    ).select("doc_id", "band", "band_hash")
    ev = bands.where(F.col("doc_id") < DECON_EVAL_DOCS)
    tr = bands.where(F.col("doc_id") >= DECON_EVAL_DOCS)
    e, t = ev.alias("e"), tr.alias("t")
    return (
        t.join(
            F.broadcast(e),
            (F.col("t.band") == F.col("e.band"))
            & (F.col("t.band_hash") == F.col("e.band_hash")),
        )
        .groupBy(F.col("t.doc_id").alias("doc_id"))
        .agg(
            F.countDistinct("e.doc_id").cast("long").alias("n_eval_matches"),
            F.count(F.lit(1)).cast("long").alias("n_band_hits"),
        )
    )


@query(
    "domain_balance_entropy",
    """
    WITH cells AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
    tot AS (SELECT cast(sum(n) as bigint) AS nd, cast(count(*) as bigint) AS k FROM cells),
    terms AS (
      SELECT cast(round(-(n::double / nd) * ln(n::double / nd), 9) as decimal(18,9)) AS term
      FROM cells, tot)
    SELECT (SELECT k FROM tot) AS n_cells,
           round(cast(sum(term) as double), 6) AS entropy_nats,
           round(exp(cast(sum(term) as double)), 6) AS effective_domains
    FROM terms
    """,
)
def domain_balance_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balance audit: Shannon entropy (nats) of the
    (lang, source) cell distribution and the effective number of
    domains exp(H) — the one-number summary a mixture-rebalancing pass
    targets (effective_domains ≪ n_cells = the corpus is dominated by
    few domains).

    Determinism: each -p·ln(p) term divides exact integers, rounds to
    9 dp, accumulates as exact decimal; exp() of the identical double
    is IEEE-identical. Shape: one tiny two-column agg + broadcast
    scalars."""
    cells = load(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nd"), F.count(F.lit(1)).cast("long").alias("k")
    )
    p = F.col("n").cast("double") / F.col("nd")
    terms = cells.crossJoin(F.broadcast(tot)).select(
        "k", F.round(-p * F.log(p), 9).cast("decimal(18,9)").alias("term")
    )
    h = F.sum("term").cast("double")
    return terms.groupBy("k").agg(
        F.round(h, 6).alias("entropy_nats"),
        F.round(F.exp(h), 6).alias("effective_domains"),
    ).select(F.col("k").alias("n_cells"), "entropy_nats", "effective_domains")


@query(
    "packing_efficiency_stats",
    f"""
    WITH packed AS (
      SELECT lang,
             cast(floor(cast(cb as double) / {PACK_BUDGET_CHARS}) as bigint) AS pack_id,
             n_chars
      FROM (SELECT lang, n_chars,
                   coalesce(sum(n_chars) OVER (
                     PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
            FROM documents)),
    per_pack AS (
      SELECT lang, pack_id,
             cast(sum(n_chars) as bigint) AS fill,
             cast(count(*) as bigint) AS n_docs
      FROM packed GROUP BY lang, pack_id)
    SELECT lang,
           cast(count(*) as bigint) AS n_packs,
           cast(sum(n_docs) as bigint) AS n_docs,
           round(avg(cast(fill as double)) / {PACK_BUDGET_CHARS}, 6) AS mean_fill_ratio,
           cast(sum(CASE WHEN fill > {PACK_BUDGET_CHARS} THEN 1 ELSE 0 END) as bigint) AS n_overflow_packs
    FROM per_pack GROUP BY lang
    """,
)
def packing_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-run audit over ``sequence_pack_greedy``'s assignment:
    per language, how many packs the budget produced, their mean fill
    ratio, and how many overflow (the at-most-one-tail-doc overshoot
    the greedy scheme allows). This is the table a batch-shape tuner
    reads before fixing the sequence-length budget.

    Shape: reuses the pack assignment (one per-lang cumulative-sum
    window), then two combinable aggs; `avg` divides exact integer
    sums before the single rounded emit."""
    packed = sequence_pack_greedy(spark, sf_dir)
    sizes = load(spark, sf_dir, "documents").select("doc_id", F.col("n_chars").alias("nc"))
    per_pack = (
        packed.join(sizes, "doc_id")
        .groupBy("lang", "pack_id")
        .agg(F.sum("nc").cast("long").alias("fill"), F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    over = F.when(F.col("fill") > PACK_BUDGET_CHARS, 1).otherwise(0)
    return per_pack.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.round(F.avg(F.col("fill").cast("double")) / PACK_BUDGET_CHARS, 6).alias(
            "mean_fill_ratio"
        ),
        F.sum(over).cast("long").alias("n_overflow_packs"),
    )


@query(
    "dedup_size_histogram",
    """
    WITH clusters AS (
      SELECT md5(text) AS h, cast(count(*) as bigint) AS cluster_size
      FROM documents GROUP BY md5(text))
    SELECT cluster_size,
           cast(count(*) as bigint) AS n_clusters,
           cast(sum(cluster_size) as bigint) AS n_docs
    FROM clusters GROUP BY cluster_size
    """,
)
def dedup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many exact-content
    clusters exist at each multiplicity and how many docs they hold —
    the first chart of any dedup report (mass in size≥2 = removable
    volume; a heavy tail = template spam).

    Shape: 16-byte-hash groupBy (payloads never shuffle) re-aggregated
    to |distinct sizes| rows — both aggs map-side combinable."""
    d = load(spark, sf_dir, "documents")
    clusters = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


LINE_DEDUP_MIN_CHARS = 10  # only lines this long (trimmed) participate


@query(
    "line_dedup_clean",
    f"""
    WITH lines AS (
      SELECT doc_id, cast(i as bigint) AS line_no, arr[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents),
           unnest(generate_series(1, len(arr))) AS t(i)),
    elig AS (
      SELECT doc_id, line_no, md5(trim(line)) AS k
      FROM lines WHERE length(trim(line)) >= {LINE_DEDUP_MIN_CHARS}),
    first_occ AS (
      SELECT k, min(row(doc_id, line_no)) AS fp FROM elig GROUP BY k),
    flagged AS (
      SELECT l.doc_id, l.line_no, l.line,
             CASE WHEN e.k IS NOT NULL
                       AND row(l.doc_id, l.line_no) <> f.fp
                  THEN 1 ELSE 0 END AS is_dup
      FROM lines l
      LEFT JOIN elig e ON l.doc_id = e.doc_id AND l.line_no = e.line_no
      LEFT JOIN first_occ f ON e.k = f.k)
    SELECT doc_id,
           cast(count(*) as bigint) AS n_lines,
           cast(sum(is_dup) as bigint) AS n_dup_lines_removed,
           md5(string_agg(CASE WHEN is_dup = 0 THEN line END, chr(10) ORDER BY line_no)) AS cleaned_md5,
           cast(sum(CASE WHEN is_dup = 0 THEN length(line) ELSE 0 END) as bigint) AS cleaned_chars
    FROM flagged GROUP BY doc_id
    """,
)
def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global LINE-level deduplication: a line (trimmed,
    ≥{LINE_DEDUP_MIN_CHARS} chars) survives only at its corpus-wide
    FIRST occurrence in (doc_id, line_no) order; later copies are
    dropped — the boilerplate-stripping pass (nav bars, license
    headers, cookie banners) that doc-level dedup cannot express. Short
    and empty lines pass through untouched (dedup'ing them would
    destroy formatting). Emits per-doc audit rows: line counts, drops,
    md5 + length of the cleaned reconstruction.

    Shape: the only wide ops are a 16-byte-hash min-aggregate (first
    occurrence per line hash as a min(struct(doc_id, line_no)) — no
    integer position encoding, so million-line docs can't collide —
    map-side combinable) and the hash-keyed rejoin; reconstruction
    collects each doc's own kept lines (bounded by doc size, the rows
    already live on the doc's partitions). A doc whose every line is a
    dropped duplicate emits NULL cleaned_md5 (matching SQL string_agg
    over an empty set), not md5('')."""
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no0", "line"),
    ).select("doc_id", (F.col("line_no0") + 1).cast("long").alias("line_no"), "line")
    elig = lines.where(F.length(F.trim("line")) >= LINE_DEDUP_MIN_CHARS).select(
        "doc_id", "line_no", F.md5(F.trim("line")).alias("k")
    )
    first_occ = elig.groupBy("k").agg(
        F.min(F.struct("doc_id", "line_no")).alias("fp")
    )
    flagged = (
        lines.join(elig, ["doc_id", "line_no"], "left")
        .join(first_occ, "k", "left")
        .select(
            "doc_id",
            "line_no",
            "line",
            F.when(
                F.col("k").isNotNull()
                & (F.struct("doc_id", "line_no") != F.col("fp")),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
        )
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("is_dup") == 0, F.struct("line_no", "line"))
            )
        ),
        lambda x: x.line,
    )
    n_kept = F.sum(F.when(F.col("is_dup") == 0, 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("is_dup").cast("long").alias("n_dup_lines_removed"),
        F.when(n_kept > 0, F.md5(F.array_join(kept_sorted, "\n"))).alias("cleaned_md5"),
        F.sum(F.when(F.col("is_dup") == 0, F.length("line")).otherwise(0))
        .cast("long")
        .alias("cleaned_chars"),
    )
