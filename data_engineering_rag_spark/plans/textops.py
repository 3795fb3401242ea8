"""Text-analysis + deduplication operators over ``documents``
(SURVEY.md §2.4 X5 + north-star extensions: these are the LLM-training-
data-pipeline ops the driver contract asks for beyond the reference).

Scale notes: every op here is a narrow map (tokenize/hash) followed by
a map-side-combinable aggregation — the natural shape for 100 TB text.
MinHash keeps the candidate-pair explosion bounded: signatures are
fixed-width per doc regardless of doc size, and LSH banding (round 2)
turns all-pairs comparison into an equi-join on band hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.tfidf import TOKEN_PATTERN
from . import load, query

# English function words for the language-ID heuristic (public-knowledge
# stopword list; the reference has no language ops — EXT per BASELINE.json).
_EN_STOPWORDS = ("the", "and", "of", "to", "in", "is", "for", "on", "with", "at")


@query(
    "text_stats",
    f"""
    SELECT doc_id, lang,
           length(text) AS n_chars_actual,
           cast(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) as bigint) AS n_tokens,
           cast(len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))) as bigint) AS n_uniq_tokens,
           round(cast(length(text) - length(replace(text, ' ', '')) as double)
                 / length(text), 8) AS space_ratio
    FROM documents WHERE length(text) > 0
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality/size stats — narrow map, no shuffle.

    The token array is projected ONCE in a prior withColumn: it is a
    non-cheap expression referenced twice, so CollapseProject keeps the
    two Projects separate and the regex runs once per row instead of
    once per consumer."""
    d = load(spark, sf_dir, "documents").where(F.length("text") > 0)
    d = d.withColumn(
        "_toks", F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
    )
    toks = F.col("_toks")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double")
            / F.length("text"),
            8,
        ).alias("space_ratio"),
    )


@query(
    "token_frequencies_top20",
    f"""
    SELECT term, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
          FROM documents)
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 20
    """,
)
def token_frequencies_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.col("freq").desc(), F.col("term"))
        .limit(20)
    )


@query(
    "lang_breakdown",
    """
    SELECT lang, source, count(*) AS n_docs,
           cast(sum(n_chars) as bigint) AS total_chars,
           round(cast(sum(n_chars) as double) / count(*), 6) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias("avg_chars"),
    )


@query(
    "language_id_heuristic",
    f"""
    SELECT doc_id, lang,
           cast(len(list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                                t -> list_contains({list(_EN_STOPWORDS)!r}, t))) as bigint)
             AS n_en_stopwords,
           cast(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) as bigint) AS n_tokens,
           round(cast(len(list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                                      t -> list_contains({list(_EN_STOPWORDS)!r}, t))) as double)
                 / greatest(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')), 1), 8)
             AS en_stopword_ratio
    FROM documents
    """,
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language scorer (EXT): the fraction of tokens that
    are English function words. A real pipeline thresholds this; we emit
    the score so the oracle can check the arithmetic. Token array is
    projected once (see text_stats) — 3 consumers, 1 regex eval."""
    d = load(spark, sf_dir, "documents")
    d = d.withColumn(
        "_toks", F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
    )
    toks = F.col("_toks")
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        "lang",
        n_stop.cast("long").alias("n_en_stopwords"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)), 8).alias(
            "en_stopword_ratio"
        ),
    )


@query(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(lower(text)) AS content_md5,
           cast(concat('0x', substr(md5(lower(text)), 1, 15)) as bigint) AS fingerprint64
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text + a 60-bit integer
    prefix (join-friendly dedup key). Identical hex→int in both engines
    (15 hex digits always fit in a signed 64-bit)."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.col("text")))
    return d.select(
        "doc_id",
        h.alias("content_md5"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fingerprint64"),
    )


@query(
    "dedup_exact_stats",
    """
    WITH h AS (SELECT md5(text) AS content_md5 FROM documents)
    SELECT count(*) AS n_docs,
           count(DISTINCT content_md5) AS n_distinct,
           count(*) - count(DISTINCT content_md5) AS n_dup_rows
    FROM h
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy). At 100 TB this is the cheapest dedup
    pass: hash each doc (map), count per hash (combine-heavy shuffle of
    16-byte keys only)."""
    d = load(spark, sf_dir, "documents").select(F.md5("text").alias("content_md5"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_md5").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("content_md5")).alias("n_dup_rows"),
    )


N_MINHASH_PERMS = 8
SHINGLE_K = 5  # character shingles
_MH_P = 2147483647  # Mersenne prime 2^31-1; products stay well inside int64
# Fixed universal-hash parameters (a_i odd, deterministic literals shared
# verbatim with the oracle SQL — no library RNG anywhere).
MINHASH_PERMS: list[tuple[int, int, int]] = [
    (0, 1103, 12345),
    (1, 12289, 987),
    (2, 52561, 55331),
    (3, 769, 222222),
    (4, 331777, 41),
    (5, 23251, 777777),
    (6, 524287, 131071),
    (7, 6151, 3571),
]


def _minhash_wide(spark: SparkSession, sf_dir: str, hash_mode: str = "md5"):
    """Wide MinHash table (doc_id, m0..m7): one explode + one
    map-side-combined groupBy — shared by the signature and LSH
    queries.

    ``hash_mode`` picks the base shingle hash:
    - ``"md5"`` (default): hex-md5 → ``conv`` → int64 — engine-portable,
      shared verbatim with the DuckDB oracle. Pays the documented
      hex-string conversion tax (PERFORMANCE.md).
    - ``"xxhash64"``: Spark's native 64-bit hash, entirely JVM-side
      integer arithmetic — the production path (~2× on the signature
      stage; no oracle, DuckDB lacks xxhash64). Same banding pipeline,
      same candidate-pair semantics: any uniform base hash feeds the
      universal-hash permutation family equally well.
    """
    # r16 OPTIMIZATION: parallelism starts at the SCAN. A single-file
    # corpus (one row group = one scan partition) serialized this whole
    # shingle→md5→partial-min pipeline — the heaviest map stage in the
    # bench — onto ONE core before the first exchange; measured 2.94 s
    # single-file vs 0.92-1.05 s guarded at sf0.1 (the r15 "neutral"
    # A/B had tested only the light fan-out, not the md5 kernel).
    # Multi-file inputs pass through unchanged; doc_id sample filters
    # still push through the round-robin repartition to the scan.
    from ..operators.scale import ensure_scan_parallelism

    d = ensure_scan_parallelism(
        load(spark, sf_dir, "documents").where(F.length("text") >= SHINGLE_K),
        label="minhash documents scan",
    )
    # Explode integer POSITIONS and substring afterwards: whole-stage
    # codegen fuses generate+project, so no per-doc array of shingle
    # strings is ever materialized (~11% faster, flat memory per row).
    positions = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - SHINGLE_K + 1)).alias("i"),
    )
    shingle = F.expr(f"substring(text, i, {SHINGLE_K})")
    if hash_mode == "md5":
        bh = F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % _MH_P
    elif hash_mode == "xxhash64":
        bh = F.pmod(F.xxhash64(shingle), F.lit(_MH_P))
    else:
        raise ValueError(f"hash_mode must be 'md5' or 'xxhash64', got {hash_mode!r}")
    base = positions.select("doc_id", bh.alias("bh"))
    return base.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("bh") + F.lit(b)) % _MH_P).alias(f"m{i}")
            for i, a, b in MINHASH_PERMS
        ]
    )


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"min(({a} * bh + {b}) % {_MH_P}) AS m{i}" for i, a, b in MINHASH_PERMS
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, cast({i} as bigint) AS perm, m{i} AS minhash FROM mins"
        for i, _, _ in MINHASH_PERMS
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(substr(text, cast(i as int), {SHINGLE_K})), 1, 15)) as bigint)
               % {_MH_P} AS bh
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K}
    ),
    mins AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
    {unpivot}
    """


@query("minhash_signatures", _minhash_oracle())
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over character-{SHINGLE_K}-shingles with a universal-hash
    permutation family h_i(s) = (a_i·md5_61(s) + b_i) mod 2³¹-1 —
    deterministic, engine-portable, ONE md5 per shingle (the a/b
    constants are shared literals, not library RNG). Long format
    (doc, perm, minhash): the LSH band join groups contiguous perms.

    Scale: shingling fans out ~len(text) narrow rows; the only shuffle
    is the groupBy(doc) whose partial aggregation reduces every
    partition to |docs|×|perms| values before the exchange. min() is
    duplicate-idempotent, so no shingle-dedup pass is needed."""
    d = load(spark, sf_dir, "documents").where(F.length("text") >= SHINGLE_K)
    mins = _minhash_wide(spark, sf_dir)
    stack_args = ", ".join(f"cast({i} as bigint), m{i}" for i, _, _ in MINHASH_PERMS)
    return mins.select(
        "doc_id",
        F.expr(f"stack({N_MINHASH_PERMS}, {stack_args}) AS (perm, minhash)"),
    ).select("doc_id", "perm", "minhash")


@query(
    "jaccard_similarity_sample",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))) AS term
      FROM documents WHERE doc_id < 20
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id)
    SELECT doc_a, doc_b, n_inter,
           round(cast(n_inter as double) / (sa.n + sb.n - n_inter), 8) AS jaccard
    FROM pair_inter JOIN sizes sa ON doc_a = sa.doc_id
                    JOIN sizes sb ON doc_b = sb.doc_id
    """,
)
def jaccard_similarity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard over a bounded sample — the
    ground-truth pass MinHash approximates. The term-equi-join formul-
    ation is the scalable shape (no array cross-products): |pairs| is
    bounded by co-occurrence, not |docs|²."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            )
        ).alias("term"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                8,
            ).alias("jaccard"),
        )
    )


N_LSH_BANDS = 2  # 8 perms / 2 bands = 4 rows per band: collision
# threshold (1/b)^(1/r) ~= 0.84 Jaccard - the near-duplicate operating
# point. (2-row bands collide at sim^2 and drown this high-overlap
# synthetic corpus in candidates: 4.2M pairs at sf0.1 vs ~100k here.)


def _lsh_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(substr(text, cast(i as int), {SHINGLE_K})), 1, 15)) as bigint)
               % {_MH_P} AS bh
      FROM documents, unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS t(i)
      WHERE length(text) >= {SHINGLE_K}
    ),
    mins AS (SELECT doc_id,
             {", ".join(f"min(({a} * bh + {b}) % {_MH_P}) AS m{i}" for i, a, b in MINHASH_PERMS)}
             FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, band, md5(sig) AS band_hash FROM (
        {" UNION ALL ".join(
            f"SELECT doc_id, {band} AS band, concat(m{4*band}, '|', m{4*band+1}, '|', m{4*band+2}, '|', m{4*band+3}) AS sig FROM mins"
            for band in range(N_LSH_BANDS)
        )}
      )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(DISTINCT a.band) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """


@query("minhash_lsh_candidate_pairs", _lsh_oracle())
def minhash_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 scale path: LSH banding over the MinHash signature — hash each
    band of 2 perms, equi-join on (band, band_hash) to get candidate
    near-duplicate pairs WITHOUT the |docs|² comparison. At 100 TB this
    is the only tractable all-pairs shape: the join key space is
    ~|docs|×bands and collisions are the candidates.

    (On this synthetic corpus all texts are distinct, so matching the
    oracle on the usually-empty result is exactly the point: both
    engines must agree on the full banding pipeline.)"""
    return _lsh_candidate_pairs(spark, sf_dir, hash_mode="md5")


@query("minhash_lsh_candidate_pairs_xxh", None)
def minhash_lsh_candidate_pairs_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash LSH: identical banding pipeline with the base
    shingle hash switched from portable hex-md5 to Spark-native
    ``xxhash64`` (pure JVM integer path — no hex string materialized,
    no base-16 conversion). Rows-only: DuckDB has no xxhash64, so the
    md5 twin above carries the oracle; a pytest parity test pins that
    both modes produce the SAME candidate-pair set on a corpus with
    planted near-duplicates (tests/test_textops_modes.py)."""
    return _lsh_candidate_pairs(spark, sf_dir, hash_mode="xxhash64")


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str, hash_mode: str) -> DataFrame:
    mins = _minhash_wide(spark, sf_dir, hash_mode=hash_mode)
    band_rows = ", ".join(
        f"cast({band} as bigint), md5(concat_ws('|', cast(m{4*band} as string), cast(m{4*band+1} as string), cast(m{4*band+2} as string), cast(m{4*band+3} as string)))"
        for band in range(N_LSH_BANDS)
    )
    # Materialize the tiny (|docs| × bands) table before the self-join:
    # otherwise BOTH join sides re-run the full shingle pipeline.
    # durable_checkpoint honors SPARK_GRAFT_CHECKPOINT_DIR for reliable
    # cluster-side checkpoints; defaults to localCheckpoint on local[32].
    from ..operators.scale import durable_checkpoint

    bands = durable_checkpoint(
        mins.select(
            "doc_id",
            F.expr(f"stack({N_LSH_BANDS}, {band_rows}) AS (band, band_hash)"),
        ).select("doc_id", "band", "band_hash")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.countDistinct("a.band").alias("n_shared_bands"))
    )


SIMHASH_BITS = 60  # signature fits a signed int64 as sum of 2^bit


def _simhash_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
        FROM documents)
      GROUP BY doc_id, term
    ),
    th AS (SELECT doc_id, tf,
                  cast(concat('0x', substr(md5(term), 1, 15)) as bigint) AS h
           FROM tok),
    bits AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> cast(b.bit as int)) & 1 = 1 THEN tf ELSE -tf END) AS weight
      FROM th, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b(bit)
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           cast(sum(CASE WHEN weight > 0 THEN (1::BIGINT << cast(bit as int)) ELSE 0::BIGINT END) as bigint) AS simhash
    FROM bits GROUP BY doc_id
    """


def _simhash_signatures(spark: SparkSession, sf_dir: str, hash_mode: str = "md5") -> DataFrame:
    """Shared SimHash kernel, parameterized on the base term hash:
    ``md5`` (hex→int, portable to the DuckDB oracle) or ``xxhash64``
    (Spark-native JVM integer path, no hex string materialized — the
    production mode; masked to the low 60 bits so both modes vote on
    the same bit width)."""
    if hash_mode not in ("md5", "xxhash64"):
        raise ValueError(f"hash_mode must be 'md5' or 'xxhash64', got {hash_mode!r}")
    # r16 OPTIMIZATION: same single-file scan-serialization guard as
    # _minhash_wide — the tokenize/explode map stage otherwise runs on
    # one core for a one-file corpus (sf0.1's layout). Identity on
    # multi-file inputs.
    from ..operators.scale import ensure_scan_parallelism
    from ..operators.tfidf import _term_frequencies

    d = ensure_scan_parallelism(
        load(spark, sf_dir, "documents"), label="simhash documents scan"
    )
    # r17 OPTIMIZATION (guide §2.3/§2.4): per-(doc, term) counts via
    # the narrow run-length kernel shared with the TF-IDF build
    # (sorted token array → run starts → (term, run length)) instead
    # of explode → groupBy(doc_id, term). The groupBy's exchange moved
    # the ENTIRE distinct token-term stream (strings) over the wire —
    # the widest shuffle in this plan (r17 before-dump, Exchange (5)
    # hashpartitioning(doc_id, term)); the run-length form computes
    # identical (doc_id, term, tf) rows inside the doc's own partition
    # with zero shuffle (a doc's tokens live in its own text cell).
    # Output equality is pinned by tests/test_tfidf.py for the kernel
    # and by the unchanged simhash oracles here.
    tok = _term_frequencies(d, ["doc_id"], "text", TOKEN_PATTERN)
    if hash_mode == "md5":
        h = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("term").bitwiseAND(F.lit((1 << SIMHASH_BITS) - 1))
    th = tok.select("doc_id", "tf", h.alias("h"))
    # Wide formulation: 60 combinable conditional sums in ONE groupBy
    # (a single shuffle on doc_id) instead of the previous 60-way
    # explode → shuffle-on-(doc, bit) → re-group — identical integer
    # sums (exact associative long arithmetic), 60× fewer shuffled
    # rows. This was the worst sf1 scaler (4.6× wall at 10× rows) in
    # the r7 soak; the fan-out was the cost.
    weights = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), F.col("tf")).otherwise(
                    -F.col("tf")
                )
            ).alias(f"w{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig_expr = " + ".join(
        f"IF(w{b} > 0, {1 << b}L, 0L)" for b in range(SIMHASH_BITS)
    )
    return weights.select("doc_id", F.expr(sig_expr).cast("long").alias("simhash"))


@query("simhash_signatures", _simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar) document fingerprints: per token, a 60-bit
    md5-derived hash votes ±tf on each bit; the signature's bit b is the
    vote sign. Near-dup distance = hamming(simhash_a, simhash_b).

    Shape at scale: tokens → (doc, term, tf) groupBy, then 60 wide
    combinable vote sums in one shuffle — no pairwise work, no Python,
    no per-bit row fan-out."""
    return _simhash_signatures(spark, sf_dir, hash_mode="md5")


@query("simhash_signatures_xxh", None)
def simhash_signatures_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash SimHash twin: identical vote pipeline with the
    term hash switched from portable hex-md5 to Spark-native
    ``xxhash64`` (pure JVM integer path — no hex string, no base-16
    conversion; the same substitution that bought MinHash ~1.7× at
    sf1). Rows-only: DuckDB has no xxhash64, so the md5 twin carries
    the oracle; tests/test_textops_modes.py pins that both modes flag
    the SAME near-dup pairs on planted duplicates."""
    return _simhash_signatures(spark, sf_dir, hash_mode="xxhash64")


@query(
    "deterministic_sample_docs",
    """
    SELECT doc_id, lang FROM documents
    ORDER BY md5(concat('sample42|', cast(doc_id as varchar))), doc_id
    LIMIT 50
    """,
)
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the reference samples eval docs with ``random.sample``
    (``generate_questions.py:67``). Library RNGs can't agree across
    engines, so the engine defines seeded sampling as hash-ordering:
    exact-n, deterministic, distributed (TakeOrdered over a hash key) —
    the property the eval pipeline actually needs (stable corpus)."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample42|"), F.col("doc_id").cast("string")))
    return d.select("doc_id", "lang", key.alias("_k")).orderBy("_k", "doc_id").limit(50).drop("_k")


@query(
    "quality_scores",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             cast(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) as bigint) AS n_tokens,
             cast(len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))) as bigint) AS n_uniq,
             length(text) AS n_chars,
             cast(len(regexp_extract_all(text, '[^\\w\\s]')) as bigint) AS n_punct
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, lang, n_tokens, n_punct,
           round(cast(n_uniq as double) / greatest(n_tokens, 1), 8) AS ttr,
           round(cast(n_punct as double) / n_chars, 8) AS punct_ratio,
           round(least(cast(n_tokens as double) / 100, 1.0)
                 * (cast(n_uniq as double) / greatest(n_tokens, 1))
                 * (1 - least(cast(n_punct as double) / n_chars * 10, 1.0)), 8) AS quality
    FROM s
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score for training-data filtering: length
    saturation × type-token ratio × punctuation-noise penalty — the
    standard heuristic-scoring shape (each factor in [0,1]), all
    engine-portable arithmetic. Token array projected once (see
    text_stats) so the tokenizer regex runs once per row."""
    d = load(spark, sf_dir, "documents").where(F.length("text") > 0)
    d = d.withColumns(
        {
            "_toks": F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)),
            "_n_punct": F.size(
                F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0))
            ).cast("long"),
        }
    )
    toks = F.col("_toks")
    n_tokens = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text")
    n_punct = F.col("_n_punct")
    ttr = n_uniq.cast("double") / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct.cast("double") / n_chars
    quality = (
        F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        * ttr
        * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        F.round(ttr, 8).alias("ttr"),
        F.round(punct_ratio, 8).alias("punct_ratio"),
        F.round(quality, 8).alias("quality"),
    )


@query(
    "token_counts_bpe_ish",
    """
    SELECT doc_id,
           cast(len(string_split_regex(trim(text), '\\s+')) as bigint) AS n_whitespace_tokens,
           cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) as bigint) AS n_bpe_ish_tokens,
           cast(len(regexp_extract_all(lower(text), '[a-z]{1,4}')) as bigint) AS n_subword_pieces
    FROM documents WHERE length(text) > 0
    """,
)
def token_counts_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for cost estimation: whitespace tokens, a BPE-ish
    segmentation (letter runs / digit runs / single punctuation — the
    pre-tokenizer split GPT-style BPE applies), and ≤4-char greedy
    subword pieces as a crude piece-count proxy."""
    d = load(spark, sf_dir, "documents").where(F.length("text") > 0)
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_whitespace_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
        )
        .cast("long")
        .alias("n_bpe_ish_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]{1,4}"), F.lit(0)))
        .cast("long")
        .alias("n_subword_pieces"),
    )


@query(
    "dedup_clusters_levenshtein",
    """
    WITH RECURSIVE base AS (
      SELECT a.p_partkey AS src, b.p_partkey AS dst
      FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      WHERE a.p_partkey < 40 AND b.p_partkey < 40
        AND levenshtein(a.p_name, b.p_name) <= 8
    ),
    sym AS (SELECT src AS a, dst AS b FROM base UNION SELECT dst, src FROM base),
    reach AS (
      SELECT a AS node, b AS r FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ),
    withself AS (
      SELECT node, r FROM reach
      UNION SELECT DISTINCT a, a FROM sym
    ),
    comp AS (SELECT node, min(r) AS component FROM withself GROUP BY node)
    SELECT c.node, c.component, cast(s.n as bigint) AS cluster_size
    FROM comp c JOIN (SELECT component, count(*) AS n FROM comp GROUP BY component) s
      ON c.component = s.component
    """,
)
def dedup_clusters_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering end-to-end: fuzzy candidate pairs → connected
    components → cluster sizes. Spark runs iterative min-label
    propagation (driver loop, checkpointed); the oracle computes the
    same fixpoint as a DuckDB recursive CTE — two totally different
    algorithms, one answer."""
    from ..operators.dedup_cluster import connected_components

    from .relational import fuzzy_levenshtein_pairs

    edges = fuzzy_levenshtein_pairs(spark, sf_dir).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        "node", "component", F.col("cluster_size").cast("long").alias("cluster_size")
    )


# --- SimHash near-dup candidate pairs (band bucketing over the 64-bit
# signature: pairs sharing any 15-bit band are candidates; hamming
# distance over the full signature verifies). Completes the SimHash
# story: signatures alone don't dedup — the banded pair join does.

SIMHASH_BAND_BITS = 15
N_SIMHASH_BANDS = 4  # 4 × 15 bits cover the 60-bit signature exactly
SIMHASH_HAM_MAX = 8  # keep pairs within 8 differing bits of 60


def _simhash_pairs_oracle() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, cast({b} as bigint) AS band,"
        f" (simhash >> {b * SIMHASH_BAND_BITS}) & {mask} AS bv FROM sig"
        for b in range(N_SIMHASH_BANDS)
    )
    return f"""
    WITH sig AS ({_simhash_oracle()}),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           cast(bit_count(xor(sa.simhash, sb.simhash)) as bigint) AS hamming
    FROM cand JOIN sig sa ON doc_a = sa.doc_id
              JOIN sig sb ON doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_HAM_MAX}
    """


@query("simhash_near_dup_pairs", _simhash_pairs_oracle())
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via band bucketing: the 60-bit
    signature splits into four 15-bit bands; docs sharing ANY band value
    become candidates (equi-join on (band, band_value) — never
    |docs|²), then full-signature hamming distance ≤ {SIMHASH_HAM_MAX}
    verifies. By pigeonhole, any pair within 3 differing bits shares a
    band, so recall is exact below that radius and probabilistic above.

    Scale: signature table is |docs| rows materialized once (durable
    checkpoint); the band join's key space is |docs|×4 and collisions
    are the candidates — same 100 TB shape as MinHash-LSH banding."""
    return _simhash_near_dup_pairs(spark, sf_dir, hash_mode="md5")


def _simhash_near_dup_pairs(spark: SparkSession, sf_dir: str, hash_mode: str) -> DataFrame:
    from ..operators.scale import durable_checkpoint

    sig = durable_checkpoint(_simhash_signatures(spark, sf_dir, hash_mode=hash_mode))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_rows = ", ".join(
        f"cast({b} as bigint), shiftright(simhash, {b * SIMHASH_BAND_BITS}) & {mask}L"
        for b in range(N_SIMHASH_BANDS)
    )
    bands = sig.select(
        "doc_id", F.expr(f"stack({N_SIMHASH_BANDS}, {band_rows}) AS (band, bv)")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.expr("bit_count(sh_a ^ sh_b)").cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(ham <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", ham.alias("hamming"))
    )


SIMHASH_TOPK = 5  # per-doc neighbor budget for the bounded twin


def _simhash_topk_oracle() -> str:
    # Composed from the PAIR oracle + a mirrored union — the same
    # structure as the shipped Spark plan, so a future change to the
    # band scheme or the verify filter flows through BOTH dialects via
    # _simhash_pairs_oracle (r16 review: the first version duplicated
    # the band/candidate scaffolding with a doubled <>-join).
    return f"""
    WITH pairs AS ({_simhash_pairs_oracle()}),
    scored AS (
      SELECT doc_a, doc_b, hamming FROM pairs
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b, hamming FROM pairs
    )
    SELECT doc_a, doc_b, hamming, rn FROM (
      SELECT doc_a, doc_b, hamming,
             cast(row_number() OVER (PARTITION BY doc_a
                                     ORDER BY hamming, doc_b) as bigint) AS rn
      FROM scored
    ) WHERE rn <= {SIMHASH_TOPK}
    """


@query("simhash_near_dup_topk", _simhash_topk_oracle())
def simhash_near_dup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded PRODUCTION twin of ``simhash_near_dup_pairs`` (r16,
    VERDICT r15 item 3 — the one sanctioned registry addition in five
    rounds): each doc's top-{SIMHASH_TOPK} nearest neighbors by
    full-signature hamming distance (ties → lowest doc_id), same
    four-band candidate generation, same ≤{SIMHASH_HAM_MAX}-bit radius.

    Why it exists: the full pair set is OUTPUT-quadratic on dense
    near-dup geometry — the r15 sf10 soak's heaviest wall (218.7 s,
    28.0M true pairs) was pure answer size on a 10-label synthetic
    corpus where every in-label pair is a near-dup. A dedup/linkage
    consumer doesn't need the quadratic pair list; it needs each doc's
    closest neighbors, and that output is ≤ {SIMHASH_TOPK}·|docs| rows
    BY CONSTRUCTION at any corpus density.

    Scale: candidate generation is the same (band, band_value)
    equi-join as the pair query (never |docs|²); the per-doc top-k
    window partitions on doc_a — |docs| cardinality, no funnel. The
    radius filter runs BEFORE the window, so the window input is the
    true-pair set, not the raw candidate multiset. The bound is on
    OUTPUT rows only: the intermediate verified pair set (and its
    checkpoint, see the kernel docstring) is still density-quadratic —
    on a corpus whose true-pair set outgrows executor storage, re-size
    the banding, don't rely on this query for bounded resources."""
    return _simhash_near_dup_topk(spark, sf_dir, hash_mode="md5")


def _simhash_near_dup_topk(spark: SparkSession, sf_dir: str, hash_mode: str) -> DataFrame:
    """Hamming is symmetric, so the candidate/verify work runs ONCE on
    the doc_a < doc_b orientation — the identical join+distinct+verify
    chain as the pair query — and the per-doc window reads the verified
    pairs plus their cheap column-swapped mirror (a projection, not a
    second join). The first sf10 recording of the naive != -join
    variant measured 339.7 s vs the pair query's 195.0 s — the doubled
    candidate multiset, not the window, was the cost. The verified
    pair set is checkpointed before the union so the two branches read
    ONE materialization instead of each re-running the banded join.
    That checkpoint is sized by the PAIR query's answer — i.e. still
    density-quadratic on dense geometry (28M rows at the sf10 soak);
    only the query's OUTPUT carries the ≤ TOPK·|docs| bound."""
    from ..operators.scale import durable_checkpoint

    scored_lt = durable_checkpoint(
        _simhash_near_dup_pairs(spark, sf_dir, hash_mode=hash_mode)
    )
    scored = scored_lt.unionByName(
        scored_lt.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "hamming",
        )
    )
    w = Window.partitionBy("doc_a").orderBy("hamming", "doc_b")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= SIMHASH_TOPK)
        .select("doc_a", "doc_b", "hamming", "rn")
    )


# --- End-to-end MinHash dedup: LSH candidates → exact-Jaccard verify →
# connected components → canonical doc per cluster. The complete
# near-dup dedup pipeline a 100 TB corpus prep actually runs.

DEDUP_JACCARD_T = 0.5  # token-set Jaccard threshold for a verified dup edge


def _minhash_dedup_oracle() -> str:
    return f"""
    WITH RECURSIVE cand AS (
      SELECT doc_a, doc_b FROM ({_lsh_oracle()})
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS ts
      FROM documents
    ),
    verified AS (
      SELECT doc_a, doc_b
      FROM cand JOIN toks ta ON doc_a = ta.doc_id
                JOIN toks tb ON doc_b = tb.doc_id
      WHERE (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))) > 0
        AND round(cast(len(list_intersect(ta.ts, tb.ts)) as double)
                  / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 8)
            >= {DEDUP_JACCARD_T}
    ),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
            UNION SELECT doc_b, doc_a FROM verified),
    reach AS (
      SELECT a AS node, b AS r FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ),
    withself AS (
      SELECT node, r FROM reach
      UNION SELECT DISTINCT a, a FROM sym
    ),
    comp AS (SELECT node, min(r) AS canonical_id FROM withself GROUP BY node)
    SELECT c.node AS doc_id, c.canonical_id, cast(s.n as bigint) AS cluster_size
    FROM comp c
    JOIN (SELECT canonical_id, count(*) AS n FROM comp GROUP BY canonical_id) s
      ON c.canonical_id = s.canonical_id
    """


@query("minhash_dedup_canonical", _minhash_dedup_oracle())
def minhash_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline, end to end: MinHash-LSH banding
    proposes candidate pairs (equi-join, never all-pairs), exact
    token-set Jaccard ≥ {DEDUP_JACCARD_T} verifies each candidate
    (row-local array intersect — bounded by |candidates|, not |docs|²),
    verified edges cluster via iterative connected components, and each
    cluster's min doc_id becomes the canonical survivor.

    The oracle replays the identical pipeline in DuckDB with the CC
    fixpoint as a recursive CTE — two different algorithms (driver-loop
    min-label propagation vs recursive reachability), one answer.

    Scale: every stage is a bounded join or map-side-combinable agg;
    CC iterations checkpoint per round (durable under
    SPARK_GRAFT_CHECKPOINT_DIR) so lineage stays flat."""
    from ..operators.dedup_cluster import connected_components

    cand = _lsh_candidate_pairs(spark, sf_dir, hash_mode="md5").select("doc_a", "doc_b")
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("ts"),
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    verified = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where((union > 0) & (F.round(inter.cast("double") / union, 8) >= DEDUP_JACCARD_T))
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(verified)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        F.col("n").cast("long").alias("cluster_size"),
    )


# --- Count-min sketch heavy hitters: completes the sketch family
# (KMV → distinct count, GK → percentiles, CMS → frequencies). The
# shape that matters at 100 TB: the full term-frequency table may not
# fit anywhere, but the sketch is depth×width counters no matter how
# many distinct terms exist.

CMS_DEPTH = 4
CMS_WIDTH = 8192


@query("approx_top_terms_cms", None)
def approx_top_terms_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-20 terms via a count-min sketch: one pass fans
    each token into {CMS_DEPTH} (depth, xxhash64(depth, term) % width)
    cells (map-side combined groupBy → the sketch is ≤ depth·width rows
    per partition BEFORE the shuffle); a term's estimate is the MIN of
    its cells — always ≥ the true count (cells only over-count via
    collisions), within ε·total with high probability for width 2/ε.

    The sketch table (≤ {CMS_DEPTH}×{CMS_WIDTH} rows) broadcasts back
    onto the candidate terms, so estimation is shuffle-free. Rows-only:
    xxhash64 has no DuckDB twin; the deterministic overestimate bound
    and top-k recall vs exact counts are pinned in tests/test_cms.py."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term")
    )
    depths = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    cell = lambda: F.pmod(F.xxhash64(F.col("depth"), F.col("term")), F.lit(CMS_WIDTH))  # noqa: E731
    cms = (
        tok.select(F.explode(depths).alias("depth"), "term")
        .select("depth", cell().alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    candidates = tok.groupBy("term").agg(F.count(F.lit(1)).alias("_true")).select("term")
    est = (
        candidates.select(F.explode(depths).alias("depth"), "term")
        .select("term", "depth", cell().alias("bucket"))
        .join(F.broadcast(cms), ["depth", "bucket"])
        .groupBy("term")
        .agg(F.min("cnt").alias("est"))
    )
    return est.orderBy(F.col("est").desc(), F.col("term")).limit(20)


@query(
    "token_sort_fingerprints",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')), ' ')) AS fp
      FROM documents
    )
    SELECT fp, cast(count(*) as bigint) AS n_docs, min(doc_id) AS canonical_id
    FROM fp GROUP BY fp HAVING count(*) >= 2
    """,
)
def token_sort_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive near-dup fingerprint: md5 of the SORTED token
    multiset — catches shuffled/reordered copies that exact-hash dedup
    misses, at narrow-map cost (no pair joins at all; the groupBy
    shuffles 16-byte hashes only, like exact dedup). The cheap middle
    rung between exact dedup and MinHash."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))),
            " ",
        )
    )
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("n_docs") >= 2)
    )


def _lang_confusion_oracle() -> str:
    from . import REGISTRY

    inner = REGISTRY["language_id_heuristic"].oracle
    return f"""
    WITH scored AS ({inner})
    SELECT lang AS declared,
           CASE WHEN en_stopword_ratio > cast(0.05 as double) THEN 'en' ELSE 'other' END AS detected,
           cast(count(*) as bigint) AS n_docs
    FROM scored GROUP BY 1, 2
    """


@query("lang_confusion_matrix", _lang_confusion_oracle())
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix: the QA view over
    the stopword-ratio language detector (detected='en' iff rounded
    ratio > 0.05). Mislabeled-language counts are the metadata-quality
    signal corpus curation acts on. Composes the per-doc detector
    query, so both engines share its exact arithmetic; the rollup is a
    tiny groupBy."""
    scored = language_id_heuristic(spark, sf_dir)
    detected = F.when(F.col("en_stopword_ratio") > 0.05, "en").otherwise("other")
    return (
        scored.select(F.col("lang").alias("declared"), detected.alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _lsh_recall_oracle() -> str:
    from . import REGISTRY

    return f"""
    WITH truth_all AS ({REGISTRY["jaccard_similarity_sample"].oracle}),
    truth AS (SELECT doc_a, doc_b FROM truth_all WHERE jaccard >= {DEDUP_JACCARD_T}),
    cand_all AS ({REGISTRY["minhash_lsh_candidate_pairs"].oracle}),
    cand AS (SELECT doc_a, doc_b FROM cand_all WHERE doc_a < 20 AND doc_b < 20),
    hits AS (SELECT count(*) AS n_hits FROM truth JOIN cand USING (doc_a, doc_b)),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    nc AS (SELECT count(*) AS n_cand FROM cand)
    SELECT cast(n_truth as bigint) AS n_truth,
           cast(n_cand as bigint) AS n_cand,
           cast(n_hits as bigint) AS n_hits,
           round(CASE WHEN n_truth = 0 THEN 1.0 ELSE n_hits::double / n_truth END, 6) AS recall,
           round(CASE WHEN n_cand = 0 THEN 1.0 ELSE n_hits::double / n_cand END, 6) AS precision
    FROM hits, nt, nc
    """


@query("lsh_candidate_quality", _lsh_recall_oracle())
def lsh_candidate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality eval for the LSH banding stage: recall and
    precision of its proposals against exact token-set Jaccard ≥
    {DEDUP_JACCARD_T} on the bounded ground-truth sample (doc_id < 20,
    same bound as jaccard_similarity_sample — the eval is cheap BY
    CONSTRUCTION at any corpus size). This is the dial you read before
    retuning bands/rows: low recall → more bands; low precision is
    fine (the pipeline's verify stage filters it) but quantifies
    wasted verification work. Composes both registered queries' own
    oracles verbatim."""
    truth = (
        jaccard_similarity_sample(spark, sf_dir)
        .where(F.col("jaccard") >= DEDUP_JACCARD_T)
        .select("doc_a", "doc_b")
    )
    cand = (
        minhash_lsh_candidate_pairs(spark, sf_dir)
        .where((F.col("doc_a") < 20) & (F.col("doc_b") < 20))
        .select("doc_a", "doc_b")
    )
    hits = truth.join(cand, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_hits"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        hits.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.when(F.col("n_truth") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hits").cast("double") / F.col("n_truth")
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(F.col("n_cand") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hits").cast("double") / F.col("n_cand")
                ),
                6,
            ).alias("precision"),
        )
    )


ZIPF_TOP_N = 1000


@query(
    "zipf_fit_stats",
    f"""
    WITH tf AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
            FROM documents)
      GROUP BY term),
    top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk
      FROM tf ORDER BY c DESC, term LIMIT {ZIPF_TOP_N}),
    pts AS (
      SELECT cast(round(ln(rnk), 9) as decimal(18,9)) AS x,
             cast(round(ln(c), 9) as decimal(18,9)) AS y
      FROM top),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts),
    fit AS (
      SELECT n,
             cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double) AS slope_raw,
             cast(sy as double) AS syd, cast(sx as double) AS sxd
      FROM s)
    SELECT cast(n as bigint) AS n_terms,
           round(slope_raw, 6) AS zipf_slope,
           round(syd / n - slope_raw * sxd / n, 6) AS zipf_intercept
    FROM fit
    """,
)
def zipf_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health check: least-squares fit of ln(freq) ~ ln(rank)
    over the top-{ZIPF_TOP_N} terms. Natural text sits near slope -1
    (Zipf's law); machine-generated or template-heavy corpora drift
    flat — a cheap distribution-shift alarm for an ingest pipeline.

    Determinism: the log points are quantized to 9 dp and accumulated
    as exact decimals (the same pattern as the LM quality scores), so
    the closed-form slope divides identical numbers in both engines.
    Shape: one token-count groupBy, then ``orderBy().limit()`` FIRST —
    Spark plans TakeOrderedAndProject (per-shard top-N merge), so only
    the {ZIPF_TOP_N} surviving rows ever see the rank window; that
    window is single-partition but pool-bounded (≤{ZIPF_TOP_N} rows by
    construction), the same exemption as the rag.py rerank pools.
    Single-row closed-form fit — no iteration, no driver math."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("term"))
    top = (
        tf.orderBy(F.col("c").desc(), F.col("term"))
        .limit(ZIPF_TOP_N)
        .withColumn("rnk", F.row_number().over(w))
    )
    pts = top.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).cast("decimal(18,9)").alias("x"),
        F.round(F.log(F.col("c").cast("double")), 9).cast("decimal(18,9)").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope_raw = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope_raw, 6).alias("zipf_slope"),
        F.round(
            F.col("sy").cast("double") / F.col("n")
            - slope_raw * F.col("sx").cast("double") / F.col("n"),
            6,
        ).alias("zipf_intercept"),
    )


@query(
    "char_entropy_quality",
    f"""
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '.')) AS ch
      FROM documents),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
    totals AS (
      SELECT doc_id, cast(sum(c) as bigint) AS n FROM counts GROUP BY doc_id)
    SELECT c.doc_id,
           t.n AS n_chars_total,
           cast(count(*) as bigint) AS n_distinct_chars,
           round(cast(sum(cast(round(-(c::double / n) * ln(c::double / n) / ln(2.0), 9)
                               as decimal(18,9))) as double), 6) AS entropy_bits
    FROM counts c JOIN totals t USING (doc_id)
    GROUP BY c.doc_id, t.n
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: low entropy flags repetitive /
    degenerate text (aaaa…, template spam), high entropy flags binary
    junk — the Shannon counterpart to the Gopher repetition rules.
    Per-term contributions quantize to 9dp before the exact decimal
    sum (the LM-quality discipline), so the per-doc bits match across
    engines. Shape: one explode + two combinable aggs."""
    d = load(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("."), F.lit(0))).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    contrib = F.round(-p * F.log(p) / F.log(F.lit(2.0)), 9).cast("decimal(18,9)")
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_chars_total"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.round(F.sum(contrib).cast("double"), 6).alias("entropy_bits"),
        )
    )


@query(
    "top_terms_per_lang",
    f"""
    SELECT lang, term, cast(freq as bigint) AS freq, cast(rn as bigint) AS rn
    FROM (
      SELECT lang, term, freq,
             row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rn
      FROM (
        SELECT lang, term, count(*) AS freq
        FROM (SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
              FROM documents)
        GROUP BY lang, term))
    WHERE rn <= 5
    """,
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k on the token stream: each language's 5 most
    frequent terms — the per-slice vocabulary drill-down next to the
    global top-20. Partial-aggregated counts, then ``grouped_top_k``
    (local per-(lang, partition) top-5 pools ≤ 5·P rows per lang before
    the exact rank — a window partitioned only by the ~5-value lang key
    would sort each language's whole term table in one task)."""
    from ..operators.scale import grouped_top_k

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "lang",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return grouped_top_k(tf, ["lang"], [F.desc("freq"), F.col("term")], 5, "rn").select(
        "lang", "term", F.col("freq").cast("long").alias("freq"), F.col("rn").cast("long").alias("rn")
    )
