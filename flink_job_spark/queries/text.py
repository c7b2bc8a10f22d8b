"""Text-analysis queries over the `documents` table (LLM-pipeline extensions,
beyond the reference surface; BASELINE.json north star).

All pure Column expressions — language ID, quality scoring, token counting,
fingerprinting run JVM-side with whole-stage codegen; at 100 TB these are
embarrassingly parallel map-only plans (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_job_spark.functions.text import (
    STOPWORDS_EN,
    bpe_token_count,
    bpe_token_count_duck,
    fingerprint_columns,
    fingerprint_columns_duck,
    lang_hit_columns,
    lang_hit_columns_duck,
    norm_text,
    norm_text_duck,
    pred_lang,
    pred_lang_duck,
    quality_columns,
    quality_columns_duck,
    word_shingles,
    word_shingles_duck,
    words,
    words_duck,
    ws_token_count,
    ws_token_count_duck,
)
from flink_job_spark.functions.hashing import md5_u32, md5_u32_duck
from flink_job_spark.queries import register
from flink_job_spark.sources.tables import fan_out, load_table

# --- q_token_count ------------------------------------------------------------

@register(
    "q_token_count",
    f"""SELECT doc_id,
               {ws_token_count_duck('text')} AS ws_tokens,
               {bpe_token_count_duck('text')} AS bpe_tokens
        FROM documents""",
    doc="token counting: whitespace + BPE-ish pre-tokenizer regex (map-only)",
    tags=("text",),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        ws_token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


# --- q_text_quality -------------------------------------------------------------

_QD = quality_columns_duck("text")

@register(
    "q_text_quality",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _QD.items())
    + " FROM documents",
    doc="quality scoring: length/alpha/punct/stopword ratios + fixed-weight score",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    cols = quality_columns("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


# --- q_lang_id -------------------------------------------------------------------

_LD = lang_hit_columns_duck("text")

@register(
    "q_lang_id",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _LD.items())
    + f", {pred_lang_duck(_LD)} AS pred_lang FROM documents",
    doc="language ID via stopword/CJK marker hit counts, deterministic argmax",
    tags=("text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    hits = lang_hit_columns("text")
    return d.select(
        "doc_id",
        *[c.alias(n) for n, c in hits.items()],
        pred_lang(hits).alias("pred_lang"),
    )


# --- q_corpus_pipeline: the composed training-data flow ----------------------------

PIPELINE_MIN_QUALITY = 0.45
PIPELINE_LANG = "en"

_PQ = quality_columns_duck("text")["quality_score"]
_PL = pred_lang_duck(lang_hit_columns_duck("text"))
_PNORM = norm_text_duck("text")
_PBPE = bpe_token_count_duck("text")


@register(
    "q_corpus_pipeline",
    f"""WITH scored AS (
          SELECT doc_id, source,
                 md5({_PNORM}) AS content_hash,
                 {_PQ} AS q,
                 {_PBPE} AS toks
          FROM documents
          WHERE {_PQ} >= {PIPELINE_MIN_QUALITY} AND ({_PL}) = '{PIPELINE_LANG}'
        ),
        dedup AS (
          SELECT * FROM scored
          QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
        )
        SELECT source,
               CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
        FROM dedup GROUP BY source""",
    doc=f"composed training-data pipeline: quality ≥ {PIPELINE_MIN_QUALITY} → "
        f"lang = {PIPELINE_LANG} → exact dedup (keep min doc_id) → per-source "
        "corpus stats (exact-decimal quality sum)",
    tags=("text", "dedup", "pipeline"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filters are map-only and run BEFORE the dedup shuffle (the cheap gate
    drops rows early); dedup is one hash-partitioned window on content_hash;
    the final rollup is a partial-aggregated groupBy — three stages total at
    any scale. Quality is summed as DECIMAL(18,6) (exact, associative) so the
    result is order-independent across engines."""
    from pyspark.sql import Window

    from flink_job_spark.functions.text import norm_text

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # persist() pins the quality/lang/token expression forest above the
    # fan-out exchange: the quality gate below re-states those expressions,
    # and a deterministic Filter pushes straight through Project AND
    # Repartition — dropping the whole regex battery back onto the single
    # scan task and evaluating it twice (Filter + Project).
    scored = (
        d.select(
            "doc_id", "source",
            F.md5(norm_text("text")).alias("content_hash"),
            quality_columns("text")["quality_score"].alias("q"),
            bpe_token_count("text").alias("toks"),
            pred_lang(lang_hit_columns("text")).alias("lang"),
        ).persist()
        .filter((F.col("q") >= PIPELINE_MIN_QUALITY)
                & (F.col("lang") == PIPELINE_LANG))
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    dedup = (scored.withColumn("rn", F.row_number().over(w))
                   .filter(F.col("rn") == 1))
    return dedup.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.sum(F.col("q").cast("decimal(18,6)")).cast("double").alias("sum_quality"),
    )


# --- q_doc_fingerprint -------------------------------------------------------------

_FD = fingerprint_columns_duck("text")

@register(
    "q_doc_fingerprint",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _FD.items())
    + " FROM documents",
    doc="document fingerprinting: normalized-text MD5 + min rolling char-8-gram hash",
    tags=("text",),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # normalize ONCE into an attribute; the shingle lambda then references it
    # instead of re-running the regex per character position
    normed = d.select("doc_id", norm_text("text").alias("__norm"))
    cols = fingerprint_columns("__norm")
    return normed.select("doc_id", *[c.alias(n) for n, c in cols.items()])


# --- q_tfidf_topk ------------------------------------------------------------------

TFIDF_TOPK = 3

@register(
    "q_tfidf_topk",
    f"""WITH tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({words_duck('text')}) AS word FROM documents)
      GROUP BY 1, 2
    ),
    df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE), 6) AS score
      FROM tf JOIN df ON df.word = tf.word CROSS JOIN n
    )
    SELECT doc_id, word, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rank
      FROM scored
    ) WHERE rank <= {TFIDF_TOPK}""",
    doc=f"top-{TFIDF_TOPK} distinguishing terms per document by tf·(N/df) — "
        "the rational idf proxy keeps scores one-division IEEE-exact across "
        "engines (ln() is libm-dependent)",
    tags=("text", "tfidf"),
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style term ranking: tf from ONE word explode + (doc,word)
    reduction; df from a second combine-enabled agg over those TF rows (never
    re-exploding text); N broadcast as a 1-row cross join. Score is
    tf·N (exact integers) over df — one IEEE division, so Spark and DuckDB
    agree bitwise without trusting a transcendental. At 100 TB: two shuffles
    total (doc,word → word), the df table is vocabulary-sized, and the final
    window shuffles on doc_id only."""
    from pyspark.sql import Window

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # tf feeds both the df aggregation and the score join — persist so the
    # text explode+reduction runs once (at scale: materialize the TF table)
    tf = (
        d.select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).persist()
    # df rows = |vocabulary| — always broadcast-sized relative to the corpus
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "word",
            F.round((F.col("tf") * F.col("n")).cast("double")
                    / F.col("df").cast("double"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= TFIDF_TOPK))


# --- q_pii_redact: regex PII detection + redaction ---------------------------------

# Java-regex ∩ RE2 subset only (char classes, \b, \d, (?:...) — no lookaround),
# so Spark and the oracle compile the SAME pattern text identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

_PII_AUG_DUCK = (
    "CASE CAST(doc_id % 4 AS INTEGER) "
    "WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for details' "
    "WHEN 1 THEN text || ' call 555-123-4567 today' "
    "WHEN 2 THEN text || ' seen from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.99 today' "
    "ELSE text END"
)

@register(
    "q_pii_redact",
    f"""WITH aug AS (SELECT doc_id, {_PII_AUG_DUCK} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{IP_RE}')) AS BIGINT) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g'),
               '{IP_RE}', '[IP]', 'g') AS redacted
    FROM aug""",
    doc="PII detection + redaction: count and mask emails/phones/IPs with "
        "regexes from the Java∩RE2 subset; deterministic synthetic PII is "
        "injected per doc_id so the redaction path is genuinely exercised",
    tags=("text", "pii"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only JVM regex work (regexp_count / regexp_replace) — no shuffle,
    no Python; at 100 TB this rides the scan like the other text ops. The
    corpus is synthetic, so each doc deterministically gets an email, phone,
    or IP appended (doc_id % 4) before detection — the redacted text is
    byte-compared against the oracle."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    aug = (
        F.when(did % 4 == 0, F.concat(
            F.col("text"), F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com for details")))
         .when(did % 4 == 1, F.concat(F.col("text"), F.lit(" call 555-123-4567 today")))
         .when(did % 4 == 2, F.concat(
            F.col("text"), F.lit(" seen from 10.0."), (did % 200).cast("string"),
            F.lit(".99 today")))
         .otherwise(F.col("text"))
    )
    t = F.col("t")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"),
            PHONE_RE, "[PHONE]"),
        IP_RE, "[IP]")
    return (
        d.select("doc_id", aug.alias("t"))
         .select(
             "doc_id",
             F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_email"),
             F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phone"),
             F.regexp_count(t, F.lit(IP_RE)).cast("long").alias("n_ip"),
             red.alias("redacted"),
         )
    )


# --- q_repetition: word-repetition quality signals (Gopher-style) -------------------

@register(
    "q_repetition",
    f"""WITH w AS (
          SELECT doc_id, unnest({words_duck('text')}) AS w FROM documents
        ),
        c AS (SELECT doc_id, w, COUNT(1) AS cnt FROM w GROUP BY doc_id, w)
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_words,
               COUNT(1) AS n_distinct,
               CAST(MAX(cnt) AS BIGINT) AS top_n,
               CAST(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS DOUBLE)
                 AS top_frac
        FROM c GROUP BY doc_id""",
    doc="repetition quality signals per document: word count, distinct words, "
        "most-frequent-word count and its fraction — the classic repetitious-"
        "document filter for training corpora",
    tags=("text", "quality"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode → two partial-aggregated shuffles keyed by (doc_id, word) then
    doc_id. Per-doc state never materializes a vocabulary map in one task's
    memory (unlike an aggregate-over-array approach), so a pathological
    1 GB document costs its share of rows, not a single-task blowup."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        d.select("doc_id", F.explode(words("text")).alias("w"))
         .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_n"),
        )
        .select(
            "doc_id", "n_words", "n_distinct", "top_n",
            (F.col("top_n").cast("double") / F.col("n_words").cast("double"))
              .alias("top_frac"),
        )
    )


# --- q_doc_chunks: overlapping token-window chunking ---------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48   # 16-token overlap between consecutive chunks

@register(
    "q_doc_chunks",
    f"""WITH w AS (
          SELECT doc_id, {words_duck('text')} AS w FROM documents
        ),
        s AS (
          SELECT doc_id, w,
                 unnest(range(1, len(w) + 1, {CHUNK_STRIDE})) AS s
          FROM w
        )
        SELECT doc_id,
               CAST((s - 1) / {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(w, s, s + {CHUNK_TOKENS} - 1), ' ') AS chunk_text,
               CAST(len(list_slice(w, s, s + {CHUNK_TOKENS} - 1)) AS BIGINT) AS n_tokens
        FROM s""",
    doc=f"document chunking into {CHUNK_TOKENS}-token windows with "
        f"{CHUNK_STRIDE}-token stride (overlapping) — the tokenize-and-chunk "
        "step every LLM training pipeline runs before packing",
    tags=("text", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only explode: the text is normalized and split ONCE per doc, and
    each chunk is rendered to its (text, n_tokens) struct INSIDE a transform
    over the starts array, so only the finished chunk explodes — exploding
    start indexes and slicing after would carry the doc's full words array
    in every exploded row (O(chunks × doclen) row width). Output rows scale
    with total tokens / stride; no shuffle, so at 100 TB chunking rides the
    scan exactly like the other text ops."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    chunked = d.select(
        "doc_id",
        words("text").alias("w"),
    ).select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(transform(sequence(1, size(w), {CHUNK_STRIDE}), "
            f"s -> slice(w, s, {CHUNK_TOKENS})), "
            f"a -> named_struct('t', concat_ws(' ', a), 'n', size(a)))"
        )).alias("pos", "c"),
    )
    return chunked.select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("chunk_idx"),
        F.col("c.t").alias("chunk_text"),
        F.col("c.n").cast("long").alias("n_tokens"),
    )


# --- q_inverted_index: posting lists per term ---------------------------------------

@register(
    "q_inverted_index",
    f"""WITH p AS (
      SELECT DISTINCT word, doc_id
      FROM (SELECT doc_id, unnest({words_duck('text')}) AS word FROM documents)
    )
    SELECT word, CAST(COUNT(1) AS BIGINT) AS df,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
             AS postings
    FROM p GROUP BY word""",
    doc="inverted index: per term, its document frequency and the sorted "
        "posting list of doc_ids — the search-engine primitive every "
        "retrieval stack builds first",
    tags=("text", "search"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One explode + distinct reduction on (word, doc), then a combine-
    enabled collect per word; sort_array pins posting order so the arrays
    are engine-comparable. At 100 TB a posting list for a stop-word is the
    skew risk — production splits lists into fixed-size segments (same
    contract as q_dedup_minhash_lsh's doc-freq cap); the plan otherwise
    shuffles |distinct (word, doc)| rows once."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    p = (d.select("doc_id", F.explode(words("text")).alias("word"))
          .distinct())
    postings = F.array_join(
        F.transform(F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string")), ",")
    return (p.groupBy("word")
             .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                  postings.alias("postings")))


# --- q_bm25_search: BM25 ranking for a fixed keyword query ---------------------------

BM25_K1 = 1.2
BM25_K1P1 = 2.2     # k1 + 1, spelled as a literal so both engines parse the
                    # same double instead of computing 1.2 + 1 in-engine
BM25_B = 0.75
BM25_QUERY = ("spark", "window", "join")

def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_QUERY)


@register(
    "q_bm25_search",
    f"""WITH w AS (
      SELECT doc_id, {words_duck('text')} AS w FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
    stats AS (SELECT CAST(COUNT(1) AS BIGINT) AS n,
                     CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS avgdl
              FROM dl),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(1) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS word FROM w)
      WHERE word IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
      GROUP BY 1, 2
    ),
    df AS (SELECT word, CAST(COUNT(1) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               (CAST(stats.n AS DOUBLE) / CAST(df.df AS DOUBLE))
               * (CAST(tf.tf AS DOUBLE) * {BM25_K1P1})
               / (CAST(tf.tf AS DOUBLE)
                  + {BM25_K1} * (1 - {BM25_B}
                                 + {BM25_B} * (CAST(dl.dl AS DOUBLE)
                                               / stats.avgdl))), 6)
               AS DECIMAL(18,6)) AS s
      FROM tf JOIN df USING (word)
              JOIN dl USING (doc_id)
              CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score
    FROM scored GROUP BY doc_id""",
    doc=f"BM25 document ranking for the fixed query {BM25_QUERY} (k1="
        f"{BM25_K1}, b={BM25_B}), rational idf N/df like q_tfidf_topk so no "
        "libm ln() enters the score; per-term scores ride a decimal detour "
        "into the per-doc sum so term order can't perturb the total",
    tags=("text", "search"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The term filter lands BEFORE the tf aggregation, so only query-term
    postings ever shuffle (|query| × |matching docs| rows, not the corpus
    vocabulary). df and the 1-row corpus stats broadcast onto that skinny
    spine; the score is a fixed IEEE expression tree — each divide/multiply
    appears exactly once and in the same order as the oracle's — rounded,
    decimal-cast, and summed exactly per doc. At 100 TB this is two bounded
    shuffles (tf reduction, per-doc sum) over query-term rows only."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = d.select("doc_id", words("text").alias("w"))
    dl = w.select("doc_id", F.size("w").cast("bigint").alias("dl")).persist()
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("dl").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avgdl"))
    tf = (w.select("doc_id", F.explode("w").alias("word"))
           .filter(F.col("word").isin(*BM25_QUERY))
           .groupBy("doc_id", "word")
           .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))).persist()
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    score = F.round(
        (F.col("n").cast("double") / F.col("df").cast("double"))
        * (tfd * F.lit(BM25_K1P1))
        / (tfd + F.lit(BM25_K1)
           * (F.lit(1.0) - F.lit(BM25_B)
              + F.lit(BM25_B) * (dld / F.col("avgdl")))), 6)
    scored = (tf.join(F.broadcast(df), "word")
                .join(dl, "doc_id")
                .crossJoin(F.broadcast(stats))
                .select("doc_id", score.cast("decimal(18,6)").alias("s")))
    return (scored.groupBy("doc_id")
                  .agg(F.sum("s").cast("double").alias("score")))


# --- q_feature_hash: hashing-trick featurization -------------------------------------

FEATURE_HASH_DIM = 64

@register(
    "q_feature_hash",
    f"""SELECT doc_id,
           {md5_u32_duck("word")}
             % {FEATURE_HASH_DIM} AS bucket,
           CAST(COUNT(1) AS BIGINT) AS n
    FROM (SELECT doc_id, unnest({words_duck('text')}) AS word FROM documents)
    GROUP BY 1, 2""",
    doc=f"hashing-trick featurization: term counts folded into "
        f"{FEATURE_HASH_DIM} md5 buckets per doc — the fixed-width sparse "
        "feature vector that needs no vocabulary pass, identical across "
        "engines and retries",
    tags=("text", "ml"),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One explode + one combine-enabled (doc, bucket) reduction: the
    vocabulary never materializes anywhere, which is the point of the
    hashing trick — the feature space is fixed at {dim} regardless of
    corpus size, so this plan is identical at 100 TB. Bucket ids come from
    the first 32 md5 bits (the repo-wide deterministic-hash idiom), never
    a JVM-internal hash that another engine can't reproduce."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    bucket = md5_u32(F.col("word")) % FEATURE_HASH_DIM
    return (
        d.select("doc_id", F.explode(words("text")).alias("word"))
         .groupBy("doc_id", bucket.alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# --- q_naive_bayes: class-conditional language model counts --------------------

NB_TOPK = 5

@register(
    "q_naive_bayes",
    f"""WITH tok AS (SELECT lang, unnest({words_duck('text')}) AS word FROM documents),
       cw AS (SELECT lang, word, CAST(COUNT(1) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
       tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM cw GROUP BY 1),
       v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM cw)
       SELECT lang, word, cnt,
              CAST(cnt + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE) AS likelihood,
              CAST(rank AS BIGINT) AS rank
       FROM (SELECT cw.lang, cw.word, cw.cnt, tot.tot, v.v,
                    row_number() OVER (PARTITION BY cw.lang
                                       ORDER BY cw.cnt DESC, cw.word) AS rank
             FROM cw JOIN tot ON tot.lang = cw.lang CROSS JOIN v)
       WHERE rank <= {NB_TOPK}""",
    doc=f"naive-Bayes class model: top-{NB_TOPK} words per language class with "
        "Laplace-smoothed likelihood (cnt+1)/(tot+V) — the class-conditional "
        "unigram model behind weak supervision and fast doc routing; the "
        "likelihood is ONE integer-over-integer IEEE division, so engines "
        "agree bitwise without any transcendental",
    tags=("text", "ml", "agg"),
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model build is two combine-enabled reductions over one word
    explode: (lang, word) counts, then class totals + vocabulary size off
    that vocabulary-sized table (persist(): the explode runs once). Class
    totals and V broadcast — at 100 TB the only big shuffle carries (lang,
    word) partial counts. Smoothing stays in exact integers until the single
    final division; ranking ties break lexicographically."""
    from pyspark.sql import Window

    d = fan_out(load_table(spark, sf_dir, "documents"))
    cw = (
        d.select("lang", F.explode(words("text")).alias("word"))
         .groupBy("lang", "word")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ).persist()
    tot = cw.groupBy("lang").agg(F.sum("cnt").cast("bigint").alias("tot"))
    v = cw.agg(F.countDistinct("word").cast("bigint").alias("v"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        cw.join(F.broadcast(tot), "lang")
          .crossJoin(F.broadcast(v))
          .withColumn("likelihood",
                      (F.col("cnt") + 1).cast("double")
                      / (F.col("tot") + F.col("v")).cast("double"))
          .withColumn("rank", F.row_number().over(w).cast("bigint"))
          .filter(F.col("rank") <= NB_TOPK)
          .select("lang", "word", "cnt", "likelihood", "rank")
    )


# --- q_bpe_merges: the first BPE tokenizer-training iteration ------------------

BPE_TOPK = 30

@register(
    "q_bpe_merges",
    f"""WITH wf AS (
         SELECT word, CAST(COUNT(1) AS BIGINT) AS freq
         FROM (SELECT unnest({words_duck('text')}) AS word FROM documents)
         GROUP BY 1
       ),
       pairs AS (
         SELECT substring(word, CAST(i AS INT), 2) AS pair, freq
         FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
               FROM wf WHERE length(word) >= 2)
       )
       SELECT pair, cnt, CAST(rank AS BIGINT) AS rank FROM (
         SELECT pair, cnt,
                row_number() OVER (ORDER BY cnt DESC, pair) AS rank
         FROM (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
               FROM pairs GROUP BY 1)
       ) WHERE rank <= {BPE_TOPK}""",
    doc=f"BPE tokenizer training, iteration one: the top-{BPE_TOPK} most "
        "frequent adjacent-character pairs weighted by word frequency — the "
        "distributed inner loop of byte-pair-encoding vocabulary learning "
        "(each merge round is this same count over the re-segmented corpus)",
    tags=("text", "tokenizer", "agg"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at corpus scale never re-reads raw text per merge: round
    one reduces the corpus to the (word, freq) vocabulary — shuffle volume
    drops from tokens to distinct words — then pair counting explodes only
    the VOCABULARY (bounded) and reduces on pair. The final top-k window is
    global but runs over ≤|alphabet|² rows, so the single-partition sort is
    constant-sized. sequence(1, len-1) is guarded by len>=2: Spark's
    sequence(1, 0) counts DOWN ([1,0]) rather than returning empty — an
    easy silent corruption."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    wf = (
        d.select(F.explode(words("text")).alias("word"))
         .groupBy("word")
         .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    pairs = (
        wf.filter(F.length("word") >= 2)
          .select(
              F.explode(F.expr(
                  "transform(sequence(1, length(word) - 1), "
                  "i -> substring(word, i, 2))")).alias("pair"),
              "freq",
          )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return (
        pairs.groupBy("pair")
             .agg(F.sum("freq").cast("bigint").alias("cnt"))
             .withColumn("rank", F.row_number().over(w).cast("bigint"))
             .filter(F.col("rank") <= BPE_TOPK)
    )


# --- q_bpe_train: multi-round BPE tokenizer training ---------------------------
#
# Full iterative byte-pair-encoding vocabulary learning (N merge rounds), the
# loop whose single iteration q_bpe_merges isolates. Words are represented as
# '#'-wrapped symbol strings ("abc" -> "#a##b##c#"); a merge of pair (L, R) is
# replace(ws, '#L##R#', '#LR#') — leftmost non-overlapping in BOTH engines
# (Java String.replace / DuckDB replace), which IS greedy left-to-right BPE
# application. '#' cannot collide: the training vocabulary is restricted to
# ^[a-z]+$ words (the standard lowercase-alpha alphabet restriction).

BPE_TRAIN_ROUNDS = 10


def _bpe_train_ctes(rounds: int) -> str:
    """Unrolled-CTE DuckDB training chain: vK = (word, ws, freq) vocabulary
    after K merges, pK = pair counts over vK-1, bK = round-K winner. Loop
    count is a compile-time constant, so the iterative algorithm is
    expressible as one SQL string; the final v{rounds} doubles as the
    APPLIED segmentation (train and encode share the chain)."""
    parts = [
        """wf AS (
      SELECT word, CAST(COUNT(1) AS BIGINT) AS freq
      FROM (SELECT unnest(%s) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
    )""" % words_duck("text"),
        r"""v0 AS (
      SELECT word, regexp_replace(word, '(.)', '#\1#', 'g') AS ws, freq
      FROM wf
    )""",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""s{k} AS (
      SELECT string_split(trim(ws, '#'), '##') AS s, freq FROM v{k - 1}
    )""")
        parts.append(f"""p{k} AS (
      SELECT s[CAST(i AS INT)] AS lhs, s[CAST(i AS INT) + 1] AS rhs,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT s, freq, unnest(range(1, len(s))) AS i FROM s{k})
      GROUP BY 1, 2
    )""")
        parts.append(f"""b{k} AS (
      SELECT {k} AS round, lhs, rhs, lhs || rhs AS merged, cnt
      FROM p{k} ORDER BY cnt DESC, lhs, rhs LIMIT 1
    )""")
        parts.append(f"""v{k} AS (
      SELECT word, replace(ws, '#' || b.lhs || '##' || b.rhs || '#',
                           '#' || b.lhs || b.rhs || '#') AS ws, freq
      FROM v{k - 1}, b{k} b
    )""")
    return ",\n    ".join(parts)


def _bpe_train_oracle(rounds: int) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM b{k}"
                               for k in range(1, rounds + 1))
    return ("WITH " + _bpe_train_ctes(rounds)
            + f"\n    SELECT CAST(round AS BIGINT) AS round, lhs, rhs, "
              f"merged, cnt FROM ({union})")


def _bpe_train_merges(spark: SparkSession, sf_dir: str,
                      rounds: int, keep_final_vocab: bool = False):
    """Driver-iterated BPE trainer; returns the merge list
    [(round, lhs, rhs, merged, cnt), ...]. See q_bpe_train for the scale
    story.

    With ``keep_final_vocab`` returns (merges, final_vocab_df) instead,
    where the frame is the fully-merged (word, ws, freq) vocabulary —
    its parent round is already materialized in cache, so the serving
    path (q_bpe_encode) reads the trained segmentation for ONE map step
    instead of re-deriving the corpus word set (a distinct shuffle) and
    re-applying all the merges to it (guide §2.4: remove whole passes).
    Cache hygiene: only the last materialized round stays persisted; the
    returned frame is one map-only replace over it, never persisted, so no
    superseded round is left behind and nothing recomputes the merge chain.
    The caller releases that one round (the bench/oracle sweep does so via
    unpersist_all between keys)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    v = (
        d.select(F.explode(words("text")).alias("word"))
         .filter(F.col("word").rlike("^[a-z]+$"))
         .groupBy("word")
         .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
         .select("word",
                 F.regexp_replace("word", "(.)", "#$1#").alias("ws"), "freq")
    )
    merges = []
    # ONE action per round: the argmax collect of round k is ALSO what
    # materializes round k's vocabulary cache (it is the first consumer of
    # the replace applied after round k-1). The r8 form paid a second
    # count() job per round purely to materialize before unpersisting the
    # parent; instead the parent cache is dropped AFTER the child is
    # materialized by the next round's collect — same lineage depth (one
    # round), half the Spark jobs (bench-scale cost is job-count
    # dominated, see the verify notes).
    prev = None
    for k in range(1, rounds + 1):
        v = v.persist()
        sdf = (
            v.select(F.expr("split(btrim(ws, '#'), '##')").alias("s"), "freq")
             .filter(F.size("s") >= 2)  # sequence(1, 0) counts DOWN in Spark
        )
        pairs = sdf.select(
            "freq",
            F.explode(F.expr(
                "transform(sequence(1, size(s) - 1), "
                "i -> struct(element_at(s, i) AS lhs, "
                "element_at(s, i + 1) AS rhs))")).alias("pr"),
        )
        top = (
            pairs.groupBy("pr.lhs", "pr.rhs")
                 .agg(F.sum("freq").cast("bigint").alias("cnt"))
                 .orderBy(F.desc("cnt"), "lhs", "rhs")
                 .limit(1)
                 .collect()
        )
        # v is materialized now; the superseded parent cache can go
        if prev is not None:
            prev.unpersist()
        prev = v
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["cnt"]
        merges.append((k, lhs, rhs, lhs + rhs, cnt))
        v = v.select(
            "word",
            F.replace(F.col("ws"), F.lit(f"#{lhs}##{rhs}#"),
                      F.lit(f"#{lhs}{rhs}#")).alias("ws"),
            "freq",
        )
    if keep_final_vocab:
        return merges, v
    if prev is not None:
        prev.unpersist()
    return merges


@register(
    "q_bpe_train",
    _bpe_train_oracle(BPE_TRAIN_ROUNDS),
    doc=f"BPE tokenizer training, full loop: {BPE_TRAIN_ROUNDS} merge rounds "
        "over the word-frequency vocabulary — each round counts adjacent "
        "symbol pairs (weighted by word freq), merges the winner everywhere, "
        "and records (round, lhs, rhs, merged, cnt); deterministic tie-break "
        "(cnt DESC, lhs, rhs)",
    tags=("text", "tokenizer", "iterative"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer never re-reads the corpus per round: ONE corpus explode
    reduces text to the (word, freq) vocabulary (shuffle volume drops from
    tokens to distinct words, exactly the optimization HF `tokenizers` uses),
    and every subsequent round is vocabulary-sized — split the symbol string,
    explode adjacent pairs, one combine-enabled (lhs, rhs) shuffle, take the
    global argmax (1-row collect, the same driver-iterated pattern as
    kmeans_lite_centroids, similarity.py), then a map-only replace. Per-round
    state on the driver is one (lhs, rhs, cnt) triple; the merge table it
    accumulates is O(rounds). The per-round vocabulary is persisted and the
    previous round's unpersisted, so lineage stays one round deep. At 100 TB
    the corpus explode dominates and runs once; rounds cost |vocab| each."""
    merges = _bpe_train_merges(spark, sf_dir, BPE_TRAIN_ROUNDS)
    return spark.createDataFrame(
        merges, "round bigint, lhs string, rhs string, merged string, "
                "cnt bigint")


# --- q_bpe_encode: apply the trained merges — the tokenizer's serving path -----

@register(
    "q_bpe_encode",
    f"""WITH {_bpe_train_ctes(BPE_TRAIN_ROUNDS)},
    seg AS (
      SELECT word,
             CAST(len(string_split(trim(ws, '#'), '##')) AS BIGINT) AS n_tok
      FROM v{BPE_TRAIN_ROUNDS}
    ),
    dw AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest({words_duck('text')}) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$')
    )
    SELECT dw.doc_id,
           CAST(COUNT(1) AS BIGINT) AS n_words,
           CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
           CAST(SUM(s.n_tok) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN seg s ON s.word = dw.word
    GROUP BY 1""",
    doc="BPE tokenizer APPLY: segment every corpus word with the "
        f"{BPE_TRAIN_ROUNDS}-merge trained vocabulary and emit per-document "
        "token counts (words, chars, BPE tokens) — the train→encode loop a "
        "real tokenizer pipeline runs; char-level token count shrinks toward "
        "the word count as merges absorb frequent pairs",
    tags=("text", "tokenizer"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path economics: training is vocabulary-sized (driver-iterated,
    see q_bpe_train), but APPLYING the learned merges is a single map-only
    projection — the N replaces compose into one chained expression, no
    actions, no shuffle per merge. The segmented vocabulary (distinct words
    → token counts) then joins the corpus word spine once; at 100 TB the
    vocab side is the small side of that join (broadcast- or
    bucket-joinable) and the corpus explode runs exactly once. Mirrors how
    production tokenizers cache word→pieces and stream the corpus."""
    _merges, vfin = _bpe_train_merges(spark, sf_dir, BPE_TRAIN_ROUNDS,
                                      keep_final_vocab=True)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    dw = (
        d.select("doc_id", F.explode(words("text")).alias("word"))
         .filter(F.col("word").rlike("^[a-z]+$"))
    )
    # per-WORD segmentation straight off the trainer's final vocabulary
    # (same distinct-word universe, same applied merges — the oracle's seg
    # CTE reads v{rounds} identically): r10 drops the old re-derivation,
    # which paid a second corpus-wide distinct shuffle and re-applied every
    # merge to the word list the trainer had already merged (guide §2.4)
    word_tok = vfin.select(
        "word",
        F.size(F.split(F.btrim(F.col("ws"), F.lit("#")), "##"))
         .cast("bigint").alias("n_tok"),
    )
    return (
        dw.join(word_tok, "word")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
               F.sum(F.length("word")).cast("bigint").alias("n_chars"),
               F.sum("n_tok").cast("bigint").alias("n_bpe_tokens"))
    )


# --- q_udtf_chunks: Python UDTF (table function) API surface --------------------

UDTF_CHUNK_WORDS = 50


@register(
    "q_udtf_chunks",
    f"""WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \t\n]+'),
                             x -> x <> '') AS ws
          FROM documents),
        idx AS (
          SELECT doc_id, ws,
                 unnest(range((len(ws) + {UDTF_CHUNK_WORDS - 1})
                              // {UDTF_CHUNK_WORDS})) AS chunk_idx
          FROM w)
       SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              CAST(len(list_slice(ws, chunk_idx * {UDTF_CHUNK_WORDS} + 1,
                                  (chunk_idx + 1) * {UDTF_CHUNK_WORDS}))
                   AS BIGINT) AS n_words,
              array_to_string(
                  list_slice(ws, chunk_idx * {UDTF_CHUNK_WORDS} + 1,
                             (chunk_idx + 1) * {UDTF_CHUNK_WORDS}), ' ')
                AS chunk
       FROM idx""",
    doc=f"Python UDTF surface: a user-defined TABLE function exploding each "
        f"document into {UDTF_CHUNK_WORDS}-word training chunks via "
        "`FROM documents, LATERAL word_chunker(...)` — the one-row-in/"
        "many-rows-out extension point, registered and driven through the "
        "SQL text API",
    tags=("text", "udtf", "sqlapi", "python"),
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's UDTF is the supported escape hatch when one input row must
    yield a VARIABLE number of output rows under imperative logic; this
    one is deliberately simple (fixed word windows — q_doc_chunks does the
    same shape in pure Column algebra) because the thing under test is the
    API path: class registration, LATERAL correlation against a real
    table, schema declaration, and executor-side Python fan-out. The UDTF
    runs per-partition with no shuffle (plan-pinned); word splitting is
    Python str.split vs the oracle's regex split, identical on any
    whitespace. For bulk production chunking prefer the Column-algebra
    form; the UDTF wins when chunk boundaries need real code (tokenizers,
    sentence models)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx bigint, n_words bigint, "
                     "chunk string")
    class WordChunker:
        def eval(self, doc_id: int, text: str):
            ws = (text or "").split()
            k = UDTF_CHUNK_WORDS
            for i in range((len(ws) + k - 1) // k):
                part = ws[i * k:(i + 1) * k]
                yield doc_id, i, len(part), " ".join(part)

    spark.udtf.register("fjs_word_chunker", WordChunker)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "fjs_udtf_documents")
    return spark.sql(
        "SELECT f.doc_id, f.chunk_idx, f.n_words, f.chunk "
        "FROM fjs_udtf_documents d, "
        "LATERAL fjs_word_chunker(d.doc_id, d.text) f")


# --- q_html_extract: visible-text extraction, value-exact oracle ---------------
#
# r5 wave 6: the stage between the WARC walk (functions/warc.py) and
# every text key — strip script/style/noscript subtrees and comments,
# decode entities, take the <title>, count anchors, normalize
# whitespace. Fixtures are real tag soup (entities, comments, hidden
# subtrees, an href-less <a>); the oracle rebuilds the exact visible
# string in SQL, so one character of leakage from a skipped subtree
# hash-mismatches.

@register(
    "q_html_extract",
    """SELECT doc_id,
              'Doc ' || doc_id AS title,
              CAST(1 + doc_id % 4 AS INT) AS n_links,
              'Title ' || doc_id || ' alpha & beta ' || doc_id || ' ' ||
                (SELECT string_agg('L' || t.j, ' ' ORDER BY t.j)
                 FROM (SELECT unnest(range(1 + doc_id % 4)) AS j) t)
                AS text
       FROM documents""",
    doc="HTML visible-text extraction: per-doc real tag soup (entities, "
        "comments, script/style/noscript subtrees, href-less anchors) "
        "through the stdlib-parser extractor; title, anchor count and the "
        "exact normalized visible string are rebuilt in SQL — one leaked "
        "character from a skipped subtree hash-mismatches",
    tags=("text", "html", "crawl"),
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Arrow-batched map stage over doc_id, zero shuffle — the
    100 TB crawl→text projection."""
    import pandas as pd
    from pyspark.sql import types as T

    from flink_job_spark.functions.html_text import extract_visible_text

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("title", T.StringType()),
        T.StructField("n_links", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])

    def run(it):
        for pdf in it:
            titles, links, texts = [], [], []
            for i in pdf["doc_id"]:
                i = int(i)
                anchors = " ".join(
                    f'<a href="http://ex.com/{i}/{j}">L{j}</a>'
                    for j in range(1 + i % 4))
                html = (
                    f"<html><head><title> Doc  {i} </title>"
                    "<style>p{color:red}</style>"
                    '<script>var x="<b>not text</b>";</script></head>'
                    f"<body><h1>Title {i}</h1><!-- comment -->"
                    f"<p>alpha &amp;\n beta {i}</p> {anchors}"
                    '<a name="no-href"></a>'
                    "<noscript>hidden</noscript></body></html>")
                r = extract_visible_text(html)
                titles.append(r["title"])
                links.append(r["n_links"])
                texts.append(r["text"])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "title": titles,
                "n_links": pd.array(links, dtype="Int32"), "text": texts})

    d = load_table(spark, sf_dir, "documents")
    return fan_out(d.select("doc_id")).mapInPandas(run, schema=schema)


# --- q_url_normalize: RFC 3986 canonicalization, value-exact oracle ------------
#
# URL-level dedup needs one canonical form per resource: lowercase
# scheme/host, default-port strip (non-default KEPT), dot-segment
# resolution, fragment drop, tracking-param strip. Even docs get an
# "HTTP://WWW...:80" form (default port + dot segments), odd docs an
# "https://...:8080" form (non-default port survives) — both paths of
# every rule run, all closed-form.

@register(
    "q_url_normalize",
    """SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
              CASE WHEN doc_id % 2 = 0
                   THEN 'www.site' || (doc_id % 7) || '.com'
                   ELSE 'site' || (doc_id % 7) || '.org' END AS host,
              CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END AS tld,
              CASE WHEN doc_id % 2 = 0 THEN NULL
                   ELSE CAST(8080 AS INT) END AS port,
              CAST(2 AS INT) AS path_depth,
              CASE WHEN doc_id % 2 = 0
                   THEN 'http://www.site' || (doc_id % 7) || '.com/p'
                        || (doc_id % 3) || '/f' || doc_id || '?id=' || doc_id
                   ELSE 'https://site' || (doc_id % 7) || '.org:8080/p'
                        || (doc_id % 3) || '/f' || doc_id || '?id=' || doc_id
              END AS canonical
       FROM documents""",
    doc="URL canonicalization: per-doc messy URLs (uppercase scheme/host, "
        "default vs non-default ports, /a/../ and /./ dot segments, "
        "utm_*/fbclid tracking params, fragments) normalized per RFC 3986; "
        "scheme/host/tld/port/path-depth and the full canonical string "
        "verified closed-form — the key URL-level dedup joins on",
    tags=("text", "url", "crawl"),
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Arrow-batched map stage over doc_id, zero shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    from flink_job_spark.functions.html_text import canonical_url

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("scheme", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("tld", T.StringType()),
        T.StructField("port", T.IntegerType()),
        T.StructField("path_depth", T.IntegerType()),
        T.StructField("canonical", T.StringType()),
    ])

    def run(it):
        for pdf in it:
            cols = {k: [] for k in ("scheme", "host", "tld", "port",
                                    "path_depth", "canonical")}
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 2 == 0:
                    url = (f"HTTP://WWW.Site{i % 7}.COM:80/a{i % 5}/../"
                           f"p{i % 3}/./f{i}?utm_source=x&id={i}&fbclid=z"
                           "#frag")
                else:
                    url = (f"https://Site{i % 7}.ORG:8080/a{i % 5}/../"
                           f"p{i % 3}/./f{i}?utm_source=x&id={i}&fbclid=z"
                           "#frag")
                u = canonical_url(url)
                for k in cols:
                    cols[k].append(u[k])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "scheme": cols["scheme"], "host": cols["host"],
                "tld": cols["tld"],
                "port": pd.array(cols["port"], dtype="Int32"),
                "path_depth": pd.array(cols["path_depth"], dtype="Int32"),
                "canonical": cols["canonical"]})

    d = load_table(spark, sf_dir, "documents")
    return fan_out(d.select("doc_id")).mapInPandas(run, schema=schema)


# --- q_lm_cross_entropy: add-one bigram language-model quality score ------------
#
# The classic perplexity-style corpus-quality gate (KenLM-shaped, before a
# real LM exists): train an add-one-smoothed bigram model ON the corpus, then
# score every document by its mean negative log-likelihood under that model.
# Low cross-entropy = predictable/templated text, high = noisy or
# out-of-distribution — both tails get dropped or down-weighted in
# training-data pipelines. max_nll (the doc's single most surprising bigram)
# is the companion worst-case signal — an aggregate MIN, so it is
# partition-order-free by construction.

@register(
    "q_lm_cross_entropy",
    f"""WITH tok AS (
          SELECT doc_id, {words_duck('text')} AS l FROM documents
        ),
        big AS (
          SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
          FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
                FROM tok WHERE len(l) >= 2)
        ),
        c2 AS (SELECT w1, w2, CAST(COUNT(1) AS BIGINT) AS c2
               FROM big GROUP BY w1, w2),
        c1 AS (SELECT w1, CAST(COUNT(1) AS BIGINT) AS c1
               FROM big GROUP BY w1),
        v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
              FROM (SELECT unnest(l) AS w FROM tok)),
        t AS (
          SELECT b.doc_id,
                 CAST(ln(CAST(c2.c2 + 1 AS DOUBLE)
                         / CAST(c1.c1 + v.v AS DOUBLE))
                      AS DECIMAL(38,18)) AS lp
          FROM big b
          JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
          JOIN c1 ON b.w1 = c1.w1, v
        )
        SELECT doc_id,
               CAST(COUNT(1) AS BIGINT) AS n_bigrams,
               ROUND((-CAST(SUM(lp) AS DOUBLE)) / COUNT(1), 4)
                 AS cross_entropy,
               ROUND(-CAST(MIN(lp) AS DOUBLE), 4) AS max_nll
        FROM t GROUP BY doc_id""",
    doc="add-one bigram LM trained on the corpus itself, then every doc "
        "scored by mean negative log-likelihood (nats) — the perplexity "
        "quality gate of training-data pipelines; max_nll is the doc's "
        "single most surprising bigram (worst-case novelty signal)",
    tags=("text", "quality", "lm"),
)
def q_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model tables are VOCABULARY-bounded, not corpus-bounded: bigram and
    context counts reduce with map-side partial aggregation before their
    one shuffle each, so at 100 TB the shuffled bytes are |V|²-capped
    (and far below — only observed bigrams exist). Scoring joins the
    doc-bigram stream to those count tables on token keys — hot bigrams
    ("of the") skew partition sizes, which AQE's skew-join split absorbs;
    the join fans out nothing (each bigram instance matches exactly one
    count row). The vocabulary size is a broadcast 1-row scalar. The Σ lp
    term rides the q_word_entropy decimal detour (each double ln cast to
    DECIMAL(38,18) before summing) so the per-doc aggregate is
    partition-order-free and engine-comparable; max_nll is a MIN, which is
    order-free natively. sequence(1, size-1) is guarded by size >= 2 —
    Spark's sequence(1, 0) counts DOWN rather than returning empty (the
    q_bpe_merges trap)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", words("text").alias("l"))
    big = (
        tok.filter(F.size("l") >= 2)
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(1, size(l) - 1), "
               "i -> struct(element_at(l, i) AS w1, "
               "element_at(l, i + 1) AS w2))")).alias("bg"))
           .select("doc_id", F.col("bg.w1").alias("w1"),
                   F.col("bg.w2").alias("w2"))
           .persist()
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    v = tok.select(F.explode("l").alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("v"))
    t = (
        big.join(c2, ["w1", "w2"])
           .join(c1, ["w1"])
           .crossJoin(F.broadcast(v))
           .select(
               "doc_id",
               F.log((F.col("c2") + 1).cast("double")
                     / (F.col("c1") + F.col("v")).cast("double"))
                .cast("decimal(38,18)").alias("lp"))
    )
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round((-F.sum("lp").cast("double")) / F.count(F.lit(1)), 4)
         .alias("cross_entropy"),
        F.round(-F.min("lp").cast("double"), 4).alias("max_nll"),
    )


# --- q_gopher_rules: the MassiveText/Gopher document-quality rule battery -----------

# Published rule SHAPE (Rae et al. 2021, A1.1), thresholds re-parameterized to
# this synthetic corpus so BOTH branches of every flag fire at every SF (the
# paper's 50..100k word bounds would pass/fail vacuously here). Every flag is
# decided by integer cross-multiplication — no float threshold can drift
# between engines.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 90
GOPHER_MWL_MIN = 4    # mean word length lower bound (paper: 3)
GOPHER_MWL_MAX = 5    # mean word length upper bound (paper: 10)
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords present (paper: 2 of 8)

_GOPHER_STOP_DUCK = "[" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + "]"


@register(
    "q_gopher_rules",
    f"""WITH w AS (
          SELECT doc_id, text, {words_duck('text')} AS w FROM documents
        ),
        m AS (
          SELECT doc_id,
                 CAST(len(w) AS BIGINT) AS n_words,
                 CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
                   AS n_word_chars,
                 CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                      AS BIGINT) AS n_alpha_words,
                 CAST(len(regexp_extract_all(text, '#'))
                      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
                   AS n_symbols,
                 CAST(len(list_filter({_GOPHER_STOP_DUCK},
                                      s -> list_contains(w, s))) AS BIGINT)
                   AS n_stopwords
          FROM w
        )
        SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols,
               n_stopwords,
               CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                         THEN 1 ELSE 0 END AS INTEGER) AS wc_pass,
               CAST(CASE WHEN n_word_chars BETWEEN {GOPHER_MWL_MIN} * n_words
                                               AND {GOPHER_MWL_MAX} * n_words
                         THEN 1 ELSE 0 END AS INTEGER) AS mwl_pass,
               CAST(CASE WHEN n_stopwords >= {GOPHER_MIN_STOPWORDS}
                         THEN 1 ELSE 0 END AS INTEGER) AS stop_pass,
               CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                          AND n_word_chars BETWEEN {GOPHER_MWL_MIN} * n_words
                                               AND {GOPHER_MWL_MAX} * n_words
                          AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
                         THEN 1 ELSE 0 END AS INTEGER) AS passes
        FROM m""",
    doc="Gopher/MassiveText quality-rule battery: per-doc word count, total "
        "word chars, alphabetic-word and symbol (#/ellipsis) counts, distinct-"
        "stopword hits, plus the word-count / mean-word-length / stopword "
        "rule flags and the all-rules gate — every flag decided by integer "
        "cross-multiplication (mean-word-length in [4,5] is 4n <= chars <= "
        "5n), the repetition rules live in q_repetition",
    tags=("text", "quality", "gopher"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: every signal is a built-in expression over the shared
    words() array (one projection, zero shuffles, fully codegen-resident) —
    at 100 TB this is a pure scan whose cost is the regex tokenizer, shared
    with every other text key. Flags compare integers only: mean word length
    never materializes as a float, and the stopword rule counts DISTINCT
    stopwords present via a 10-element literal-array filter, not a regex
    over the text (so a doc repeating 'the' 50 times scores 1, not 50)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    # stage the tokenizer ONCE: five signals referenced words("text")
    # inline (4 projection uses + 10 lambda-bound evaluations in the
    # stopword filter), and lambda bodies are outside codegen's
    # common-subexpression elimination — after the r6 two-pass
    # script-aware norm this measured 1.8x (host-normalized) on the
    # bench. CollapseProject keeps a staged non-cheap alias with >1 use
    # in its own projection, so the split is one evaluation per row.
    staged = d.select("doc_id", "text", words("text").alias("w"))
    m = staged.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        F.aggregate(F.transform("w", lambda x: F.length(x).cast("long")),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("n_word_chars"),
        F.size(F.filter("w", lambda x: x.rlike("[a-z]")))
         .cast("bigint").alias("n_alpha_words"),
        (F.regexp_count(F.col("text"), F.lit("#"))
         + F.regexp_count(F.col("text"), F.lit(r"\.\.\.")))
         .cast("bigint").alias("n_symbols"),
        F.size(F.filter(stop_lit,
                        lambda s: F.array_contains(F.col("w"), s)))
         .cast("bigint").alias("n_stopwords"),
    )
    wc_pass = (F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS))
    mwl_pass = (F.col("n_word_chars") >= GOPHER_MWL_MIN * F.col("n_words")) \
        & (F.col("n_word_chars") <= GOPHER_MWL_MAX * F.col("n_words"))
    stop_pass = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id", "n_words", "n_word_chars", "n_alpha_words", "n_symbols",
        "n_stopwords",
        wc_pass.cast("int").alias("wc_pass"),
        mwl_pass.cast("int").alias("mwl_pass"),
        stop_pass.cast("int").alias("stop_pass"),
        (wc_pass & mwl_pass & stop_pass).cast("int").alias("passes"),
    )


# --- q_quality_classifier: hashed-feature linear quality scorer ----------------------

QCLF_BUCKETS = 64     # hashed feature space (shared shape with q_feature_hash)
QCLF_WEIGHT_MOD = 2001  # weights uniform in [-1000, 1000], md5-derived


@register(
    "q_quality_classifier",
    f"""WITH tok AS (
          SELECT doc_id, unnest({words_duck('text')}) AS word FROM documents
        ),
        scored AS (
          SELECT doc_id,
                 CAST({md5_u32_duck(f"'qclf|' || CAST({md5_u32_duck('word')} % {QCLF_BUCKETS} AS VARCHAR)")}
                      % {QCLF_WEIGHT_MOD} - {(QCLF_WEIGHT_MOD - 1) // 2} AS BIGINT)
                   AS w
          FROM tok
        )
        SELECT doc_id,
               CAST(COUNT(1) AS BIGINT) AS n_tokens,
               CAST(SUM(w) AS BIGINT) AS logit,
               CAST(CASE WHEN SUM(w) > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
        FROM scored GROUP BY doc_id""",
    doc=f"fastText-shaped linear quality classifier SCORING: every token "
        f"hashes into {QCLF_BUCKETS} buckets and the md5-derived integer "
        "bucket weight (stand-in for trained coefficients — same plan, "
        "different constants) accumulates into a per-doc logit; label = "
        "sign. The model-based quality gate (DCLM/FineWeb-style) scored "
        "entirely with integer arithmetic — no float can drift between "
        "engines, no vocabulary pass, no model file",
    tags=("text", "ml", "quality"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One explode + ONE combine-enabled reduction on doc_id: the weight is
    an inline expression of the bucket id (md5 of md5), so there is no
    weight-table join at all — a real trained model would broadcast its
    {QCLF_BUCKETS}-row coefficient vector instead, same plan shape. Partial
    aggregation sums weights map-side, so the shuffle carries one
    (doc_id, count, sum) triple per doc per partition. At 100 TB this is
    the cheapest possible model-scoring plan: a scan, a projection, a
    combine."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    bucket = md5_u32(F.col("word")) % QCLF_BUCKETS
    w = (md5_u32(F.concat(F.lit("qclf|"), bucket.cast("string")))
         % QCLF_WEIGHT_MOD - (QCLF_WEIGHT_MOD - 1) // 2).cast("bigint")
    return (
        d.select("doc_id", F.explode(words("text")).alias("word"))
         .select("doc_id", w.alias("w"))
         .groupBy("doc_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
              F.sum("w").cast("bigint").alias("logit"),
              (F.sum("w") > 0).cast("int").alias("label"))
    )


# --- q_segment_multiscript: script-aware words() on a mixed-script corpus -------
#
# r6 (VERDICT r5 #2): the words()/norm_text() pair is script-aware — no-space
# scripts (CJK ideographs, kana, Thai) segment one token per codepoint, while
# space-delimited text keeps the classic rule. This key drives the WHOLE word
# family (words -> distinct -> 3-shingles) over a deterministically mixed
# zh/ja/th/en corpus so multilingual degradation can never silently return
# (under the pre-r6 rule every CJK doc normalized to ZERO words).

_SNIPPETS = [
    "",                                  # pure ASCII control group
    "今日は良い天気です",   # ja: 今日は良い天気です
    "中文文本分析测试",         # zh: 中文文本分析测试
    "สวัสดีครับ",  # th: สวัสดีครับ
]

_MIX_CASE = ("CASE doc_id % 4 "
             + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SNIPPETS[:3]))
             + f" ELSE '{_SNIPPETS[3]}' END")
_MIX_DUCK = f"concat(text, ' ', {_MIX_CASE})"


@register(
    "q_segment_multiscript",
    # the words list binds ONCE in a subquery: splicing the regex-split
    # expression into the bigram-merge lambda's per-element accesses is
    # O(n^2) per row in DuckDB (r7 review-caught hang)
    f"""SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq_words,
               CAST(len({word_shingles_duck('w')}) AS BIGINT) AS n_shingles
        FROM (SELECT doc_id, {words_duck(_MIX_DUCK)} AS w
              FROM documents)""",
    doc="script-aware segmentation: words/distinct/3-shingle counts over a "
        "mixed zh/ja/th/en corpus (no-space scripts segment per codepoint; "
        "map-only, zero shuffles)",
    tags=("text", "multilingual"),
)
def q_segment_multiscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only plan: one projection computes the mixed text, the
    script-aware split, and three array sizes — no explode, no shuffle.
    At 100 TB this is a pure scan-side pass; the segmentation itself is
    two JVM regex passes per row (codegen-able), identical cost shape to
    the pre-r6 single-pass rule."""
    from flink_job_spark.functions.text import shingle_tokens

    d = fan_out(load_table(spark, sf_dir, "documents"))
    mixed = F.concat(F.col("text"), F.lit(" "), F.expr(_MIX_CASE))
    staged = d.select("doc_id", F.split(norm_text(mixed), " ").alias("w"))
    # the bigram merge materializes ONCE per row (r7): the shingle expr
    # references its input 3x, which measured 7x on this key at sf0.1
    merged = staged.select("doc_id", "w",
                           F.expr(shingle_tokens("w")).alias("st"))
    return merged.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("w")).cast("bigint").alias("n_uniq_words"),
        F.size(word_shingles("st", premerged=True)).cast("bigint")
         .alias("n_shingles"),
    )
