"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, document
fingerprinting. Beyond-reference extensions (the reference has no text
surface), built entirely from JVM-side built-ins (split/filter/
aggregate/md5) — no Python UDFs, so whole-stage codegen applies and the
operators scale linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df, materialize, widen

# Tiny stopword sets for the n-gram/stopword language heuristic. On real
# corpora these would be per-language top-k lists; the fixture corpus
# uses a synthetic vocabulary so the heuristic keys on the few function
# words present.
STOP_EN = ["the", "a", "of", "to", "and"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased text (JVM-side)."""
    return F.split(F.lower(col), " ")


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit document fingerprint (md5 of normal form)."""
    return F.md5(normalize_text(col))


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach token/char/quality statistics columns."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("bigint")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", F.length(text_col).cast("bigint"))
        .withColumn("n_unique_tokens", F.size(F.array_distinct(toks)).cast("bigint"))
        .withColumn(
            "avg_token_len",
            rnd(
                F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))) / n_tok, 4
            ),
        )
        .withColumn(
            "ttr", rnd(F.size(F.array_distinct(toks)) / n_tok.cast("double"), 4)
        )
    )


@query(
    "q_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
               AS n_unique_tokens,
           round(length(replace(text, ' ', '')) /
                 len(string_split(lower(text), ' ')), 4) AS avg_token_len,
           round(len(list_distinct(string_split(lower(text), ' '))) /
                 CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4) AS ttr
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return add_text_stats(docs).select(
        "doc_id", "n_tokens", "n_chars_calc", "n_unique_tokens", "avg_token_len", "ttr"
    )


@query(
    "q_text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(lower(text), ' ') AS toks,
             CAST(length(text) AS BIGINT) AS n_chars_calc
      FROM documents
    )
    SELECT doc_id, lang, n_chars_calc,
           round(len(list_filter(toks,
                     x -> list_contains(['the','a','of','to','and'], x))) /
                 CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
           CASE WHEN len(list_filter(toks,
                        x -> list_contains(['the','a','of','to','and'], x))) /
                     CAST(len(toks) AS DOUBLE) >= 0.05
                THEN 'en_like' ELSE 'other' END AS lang_pred,
           round(least(1.0, len(toks) / 100.0) * 0.5 +
                 CASE WHEN n_chars_calc BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END,
                 4) AS quality_score
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality score = length-band bonus + capped token-count score;
    # language-ID = stopword-ratio threshold (n-gram heuristic family).
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    stop_lit = F.array(*[F.lit(s) for s in STOP_EN])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, x)))
    ratio = n_stop / F.size(toks).cast("double")
    n_chars_calc = F.length("text").cast("bigint")
    return docs.select(
        "doc_id",
        "lang",
        n_chars_calc.alias("n_chars_calc"),
        rnd(ratio, 4).alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en_like").otherwise("other").alias("lang_pred"),
        rnd(
            F.least(F.lit(1.0), F.size(toks) / F.lit(100.0)) * 0.5
            + F.when(n_chars_calc.between(100, 5000), 0.5).otherwise(0.0),
            4,
        ).alias("quality_score"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _bigrams_of(norm: Column) -> Column:
    """Bigram array from an already-materialized normalized-text column
    (must be an attribute — see sources.materialize)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(norm) - 1), lambda i: norm.substr(i, F.lit(2))
    )


def langid_ngram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    top_n: int = 40,
    profile_sample_mod: int = 10,
) -> DataFrame:
    """N-gram-profile language ID (Cavnar–Trenkle family): build per-
    language character-bigram profiles (top_n bigrams by corpus
    frequency), then predict each document's language as the profile
    with the largest bigram-set overlap. Ties broken deterministically
    (count DESC, bigram ASC for profiles; overlap DESC, lang ASC for
    prediction).

    Scale: profiles are a MODEL — built from a deterministic 1-in-
    profile_sample_mod sample of labeled docs (n-gram frequency ranks
    stabilize quickly; a full-corpus pass per query is waste), tiny
    (langs x top_n), and broadcast back. The per-doc scoring join is
    bigram-keyed against the broadcast profile: no shuffle of the
    corpus. On this synthetic fixture every language shares one
    vocabulary, so the prediction exercises the mechanics, not accuracy.
    """
    from pyspark.sql import Window

    # Normalize ONCE per row (materialize barrier): inlined, the
    # normalizing regex re-runs inside every substr of the bigram
    # lambda — O(doc length) regex evaluations per document.
    normed = materialize(df, __norm=normalize_text(F.col(text_col)))
    bigrams = _bigrams_of(F.col("__norm"))
    ex = normed.filter(F.col(id_col) % profile_sample_mod == 0).select(
        F.col(id_col), F.col(label_col), F.explode(bigrams).alias("bg")
    )
    w_prof = Window.partitionBy(label_col).orderBy(F.col("c").desc(), F.col("bg"))
    profiles = (
        ex.groupBy(label_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("r", F.row_number().over(w_prof))
        .filter(F.col("r") <= top_n)
        .select(F.col(label_col).alias("cand_lang"), "bg")
    )
    doc_bigrams = normed.select(
        F.col(id_col), F.explode(F.array_distinct(bigrams)).alias("bg")
    )
    w_pred = Window.partitionBy(id_col).orderBy(
        F.col("n_match").desc(), F.col("cand_lang")
    )
    return (
        doc_bigrams.join(F.broadcast(profiles), "bg")
        .groupBy(id_col, "cand_lang")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .withColumn("rnk", F.row_number().over(w_pred))
        .filter(F.col("rnk") == 1)
        .select(id_col, F.col("cand_lang").alias("lang_pred"), F.col("n_match"))
    )


@query(
    "q_langid_ngram",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), ex AS (
      SELECT doc_id, lang,
             unnest([s[i:i+1] for i in range(1, length(s))]) AS bg
      FROM norm WHERE doc_id % 10 = 0
    ), prof AS (
      SELECT lang AS cand_lang, bg FROM (
        SELECT lang, bg, count(*) AS c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, bg) AS r
        FROM ex GROUP BY lang, bg
      ) WHERE r <= 40
    ), doc_bg AS (
      SELECT DISTINCT doc_id,
             unnest([s[i:i+1] for i in range(1, length(s))]) AS bg
      FROM norm
    ), scored AS (
      SELECT doc_id, cand_lang, count(*) AS n_match,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY count(*) DESC, cand_lang) AS rnk
      FROM doc_bg JOIN prof USING (bg)
      GROUP BY doc_id, cand_lang
    )
    SELECT doc_id, cand_lang AS lang_pred, n_match
    FROM scored WHERE rnk = 1
    """,
)
def q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return langid_ngram(docs)


ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _rolling_hash_of(norm: Column) -> Column:
    """Rolling hash from an already-materialized normalized-text column
    (must be an attribute — see sources.materialize)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(norm)),
            lambda i: F.ascii(norm.substr(i, F.lit(1))).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: (a * ROLLING_HASH_BASE + b) % ROLLING_HASH_MOD,
    )


@query(
    "q_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
           round(100.0 * len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                 / length(text), 4) AS tokens_per_100_chars
    FROM documents
    """,
)
def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letter-runs / digit-runs / single punctuation) — the standard cheap
    proxy for subword token counts in corpus sizing."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        rnd(F.lit(100.0) * F.size(bpe) / F.length("text"), 4).alias(
            "tokens_per_100_chars"
        ),
    )


@query(
    "q_rolling_hash",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(s[i]) AS BIGINT) for i in range(1, length(s) + 1)]),
               (a, b) -> (a * {ROLLING_HASH_BASE} + b) % {ROLLING_HASH_MOD}) AS rhash
    FROM n
    """,
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = materialize(
        widen(load_table(spark, sf_dir, "documents")),
        __norm=normalize_text(F.col("text")),
    )
    return docs.select("doc_id", _rolling_hash_of(F.col("__norm")).alias("rhash"))


@query(
    "q_vocab_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), counts AS (
      SELECT tok, count(*) AS n FROM tok GROUP BY tok
    ), total AS (SELECT sum(n) AS t FROM counts)
    SELECT tok, n, round(n / (SELECT t FROM total), 6) AS freq
    FROM counts
    WHERE n >= 0.01 * (SELECT t FROM total)
    ORDER BY n DESC, tok
    """,
)
def q_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters (tokens >= 1% of all tokens) —
    the exact counterpart of count-min/frequent-items sketches; at
    corpus scale the same plan holds (one explode, one keyed shuffle
    with map-side combine, a 1-row broadcast total)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.join(total)
        .filter(F.col("n") >= 0.01 * F.col("t"))
        .select("tok", "n", rnd(F.col("n") / F.col("t"), 6).alias("freq"))
        .orderBy(F.col("n").desc(), "tok")
    )


@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
    ), df_t AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok
    ), n_docs AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, tok,
           round(tf * ln((SELECT n FROM n_docs) / CAST(df AS DOUBLE)), 6)
               AS tfidf
    FROM tf JOIN df_t USING (tok)
    WHERE tf * ln((SELECT n FROM n_docs) / CAST(df AS DOUBLE)) > 2.0
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token), thresholded to salient terms. Scale:
    one explode feeds both the tf agg (keyed on doc,tok) and the df agg
    (keyed on tok, distinct-doc count); the idf side is tiny after
    aggregation -> broadcast join back."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tok.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    # Corpus size stays inside the plan as a 1-row broadcast aggregate
    # (a driver-side docs.count() would be an extra full corpus pass per
    # invocation — the q_vocab_heavy_hitters pattern instead).
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    tfidf = F.col("tf") * F.log(F.col("n_total") / F.col("df").cast("double"))
    return (
        tf.join(df_t, "tok")
        .join(n_docs)
        .filter(tfidf > 2.0)
        .select("doc_id", "tok", rnd(tfidf, 6).alias("tfidf"))
    )


@query(
    "q_corpus_stats_by_lang",
    oracle="""
    WITH t AS (
      SELECT lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(n_tok), 4) AS avg_tokens,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           round(quantile_cont(n_tok, 0.5), 4) AS median_tokens,
           round(quantile_cont(n_tok, 0.95), 4) AS p95_tokens
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def q_corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus sizing report (docs, tokens, length
    distribution) — the first query any training-data curation run
    issues. percentile() here is exact-interpolated to match
    quantile_cont; percentile_approx is the at-scale variant."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    return (
        docs.select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            rnd(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
            rnd(F.expr("percentile(n_tok, 0.5)"), 4).alias("median_tokens"),
            rnd(F.expr("percentile(n_tok, 0.95)"), 4).alias("p95_tokens"),
        )
        .orderBy("lang")
    )


SAMPLE_RATES_PCT = {"en": 5, "de": 20, "es": 20, "fr": 20, "zh": 20}


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE doc_id % 100 < CASE lang
        WHEN 'en' THEN 5 WHEN 'de' THEN 20 WHEN 'es' THEN 20
        WHEN 'fr' THEN 20 WHEN 'zh' THEN 20 ELSE 0 END
    ORDER BY doc_id
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling — per-language rates
    (downsample the dominant language, keep the rest), keyed on
    doc_id % 100 so the sample is reproducible across runs and engines
    (df.sampleBy is RNG-seeded per partition: not cross-engine
    checkable, and not even stable under repartitioning). At corpus
    scale the mod test is a pushed-down filter: no shuffle, no
    sampling pass. The standard pattern for rebalancing a training
    mix."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lang, pct in SAMPLE_RATES_PCT.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return (
        docs.filter((F.col("doc_id") % 100) < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "q_train_test_split",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
    FROM h
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by hashing the
    stable doc id (md5 first 16 bits mod 100) — reproducible across
    runs, engines, and repartitioning, and leakage-safe (same id always
    lands in the same split). The standard alternative to RNG splits,
    which silently reshuffle when partitioning changes."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint") % 100
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH w AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS weight,
             ('0x' || substr(md5('ws:' || doc_id), 1, 8))::UBIGINT
                 / 4294967296.0 AS u
      FROM documents
    ), pri AS (
      SELECT doc_id, lang, CAST(weight AS BIGINT) AS weight,
             round(pow(u, 1.0 / weight), 6) AS priority
      FROM w
    )
    SELECT doc_id, lang, weight, priority FROM (
      SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rnk
      FROM pri
    ) WHERE rnk <= 100
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    each doc draws a deterministic pseudo-uniform u from md5(doc_id) and
    gets priority u^(1/weight); the global top-k by priority is a
    weighted sample (here weight = token count, favoring long docs).
    Deterministic -> reproducible across runs/engines/partitionings,
    unlike RNG-based sampling. Scale: one linear pass + a top-k via
    orderBy+limit, which compiles to TakeOrderedAndProject (partial
    per-partition heap, then a k-row final merge) — no full sort and
    no global window over the corpus; priorities are rounded before
    ranking so the cross-engine float ulp cannot flip an order (ties
    break on doc_id)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    weight = F.size(tokens(F.col("text"))).cast("double")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id"))), 1, 8), 16, 10)
        .cast("double") / F.lit(4294967296.0)
    )
    pri = docs.select(
        "doc_id",
        "lang",
        weight.cast("bigint").alias("weight"),
        rnd(F.pow(u, F.lit(1.0) / weight), 6).alias("priority"),
    )
    return (
        pri.orderBy(F.col("priority").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "weight", "priority")
    )


@query(
    "q_reservoir_sample",
    oracle="""
    SELECT event_id, user_id, event_type, sample_key FROM (
      SELECT event_id, user_id, event_type,
             ('0x' || substr(md5('rs:' || event_id), 1, 15))::BIGINT AS sample_key,
             row_number() OVER (
               ORDER BY ('0x' || substr(md5('rs:' || event_id), 1, 15))::BIGINT,
                        event_id) AS rnk
      FROM events
    ) WHERE rnk <= 200
    """,
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-row sample without replacement as a distributed
    bottom-k: each row draws a deterministic 60-bit key from
    md5(event_id) and the global k smallest keys win. This is exactly
    what single-pass reservoir sampling (Algorithm R) becomes at scale —
    sequential reservoirs don't distribute, but bottom-k by a uniform
    key is mergeable (per-partition top-k, then a k-row final merge) and
    reproducible across runs/engines/partitionings. The integer key
    avoids any float rounding concern. The bottom-k runs as
    orderBy+limit — TakeOrderedAndProject, a per-partition heap and a
    k-row driver merge, never a global window or single-partition
    sort."""
    ev = load_table(spark, sf_dir, "events")
    key = F.conv(
        F.substring(F.md5(F.concat(F.lit("rs:"), F.col("event_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        ev.select("event_id", "user_id", "event_type", key.alias("sample_key"))
        .orderBy(F.col("sample_key").asc(), "event_id")
        .limit(200)
        .select("event_id", "user_id", "event_type", "sample_key")
    )


@query(
    "q_perplexity_unigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), sample_counts AS (
      SELECT tok, count(*) AS n FROM tok WHERE doc_id % 10 = 0 GROUP BY tok
    ), model_stats AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
      FROM sample_counts
    ), scored AS (
      SELECT t.doc_id,
             -ln(coalesce((s.n + 1) / (m.total + m.v),
                          1.0 / (m.total + m.v))) AS nll
      FROM tok t CROSS JOIN model_stats m
      LEFT JOIN sample_counts s ON s.tok = t.tok
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(nll), 5) AS avg_nll,
           round(exp(avg(nll)), 3) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def q_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring — the classic KenLM-style quality
    gate, reduced to its distributed essentials: train add-one-smoothed
    unigram probabilities on a deterministic 1-in-10 document sample
    (the MODEL — tiny, broadcast), then score every document as
    exp(avg -ln p(token)) via a broadcast join on the exploded tokens.
    High perplexity = far from the corpus distribution = filter
    candidate. Scale: model fits memory at any corpus size (it's a
    vocab table); scoring is one explode + broadcast join + keyed agg —
    no corpus shuffle except the per-doc rollup."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    sample_counts = (
        toks.filter(F.col("doc_id") % 10 == 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = sample_counts.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    denom = F.col("total") + F.col("v")
    p = F.coalesce((F.col("n") + 1) / denom, F.lit(1.0) / denom)
    scored = (
        toks.crossJoin(stats)
        .join(sample_counts, "tok", "left")
        .select("doc_id", (-F.log(p)).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.avg("nll"), 5).alias("avg_nll"),
        rnd(F.exp(F.avg("nll")), 3).alias("ppl"),
    )


@query(
    "q_dsir_selection",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tgt AS (
      SELECT tok, count(*) AS n FROM tok WHERE lang = 'en' GROUP BY tok
    ), raw AS (
      SELECT tok, count(*) AS n FROM tok GROUP BY tok
    ), tstats AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
      FROM tgt
    ), rstats AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
      FROM raw
    ), scored AS (
      SELECT t.doc_id, t.lang,
             ln(coalesce((g.n + 1) / (ts.total + ts.v),
                         1.0 / (ts.total + ts.v)))
             - ln((r.n + 1) / (rs.total + rs.v)) AS llr
      FROM tok t
      CROSS JOIN tstats ts CROSS JOIN rstats rs
      LEFT JOIN tgt g ON g.tok = t.tok
      JOIN raw r ON r.tok = t.tok
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(llr), 5) AS avg_llr
      FROM scored GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tokens, avg_llr FROM (
      SELECT *, row_number() OVER (ORDER BY avg_llr DESC, doc_id) AS rnk
      FROM per_doc
    ) WHERE rnk <= 50
    """,
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): train two smoothed
    unigram models — the TARGET distribution (here: the corpus's 'en'
    slice stands in for the desired domain) and the RAW distribution
    (the whole corpus) — then score every document by its mean
    log-likelihood RATIO ln p_target(tok) - ln p_raw(tok) and keep the
    top-k. Positive scores mean "looks more like the target than like
    an average document"; sampling proportionally to exp(llr) instead
    of top-k rank is the full importance-resampling variant (the
    deterministic top-k keeps the oracle exact). Scale: both models
    are vocab tables (broadcast at any corpus size); scoring is one
    explode + two broadcast joins + a keyed per-doc rollup, and the
    top-k is TakeOrderedAndProject — the corpus itself never
    shuffles."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tn"))
    )
    raw = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("rn"))
    tstats = tgt.agg(
        F.sum("tn").cast("double").alias("t_total"),
        F.count(F.lit(1)).cast("double").alias("t_v"),
    )
    rstats = raw.agg(
        F.sum("rn").cast("double").alias("r_total"),
        F.count(F.lit(1)).cast("double").alias("r_v"),
    )
    t_denom = F.col("t_total") + F.col("t_v")
    r_denom = F.col("r_total") + F.col("r_v")
    p_tgt = F.coalesce((F.col("tn") + 1) / t_denom, F.lit(1.0) / t_denom)
    p_raw = (F.col("rn") + 1) / r_denom
    scored = (
        toks.crossJoin(tstats)
        .crossJoin(rstats)
        .join(tgt, "tok", "left")
        .join(raw, "tok")
        .select("doc_id", "lang", (F.log(p_tgt) - F.log(p_raw)).alias("llr"))
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.avg("llr"), 5).alias("avg_llr"),
    )
    # Global top-k as orderBy+limit -> TakeOrderedAndProject (partial
    # top-k per partition, k-row final merge) — never a global-window
    # row_number, which funnels every per-doc row to one partition.
    return per_doc.orderBy(F.col("avg_llr").desc(), "doc_id").limit(50).select(
        "doc_id", "lang", "n_tokens", "avg_llr"
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson/Spärck Jones; the lexical ranking function
# behind Lucene/Elasticsearch and most pretraining-corpus search
# tooling — the retrieval twin of q_tfidf's salience scoring).
# ---------------------------------------------------------------------------

_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q1", ["data", "join"]),
    ("q2", ["spark", "stream", "fast"]),
    ("q3", ["vector", "scan"]),
]
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_scored(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(query_id, doc_id, score) BM25 scores for _BM25_QUERIES over
    `docs` — shared by the pure-lexical top-k and the hybrid RRF
    fusion. See q_bm25_topk for the scale shape."""
    all_terms = [t for _, ts in _BM25_QUERIES for t in ts]
    terms = local_df(
        spark,
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts],
        "query_id string, tok string",
    )
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id", F.size("toks").cast("double").alias("dl"),
        F.explode("toks").alias("tok"),
    )
    tf = (
        toks.filter(F.col("tok").isin(all_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfr = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    corpus = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("double").alias("dl")
    ).agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n"))
    term_score = (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * F.col("tf") * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    # Sorted-fold, not sum(): identical to the q_retrieval_mrr
    # hardening — the per-term contributions fold in sorted order so
    # the score double never depends on partial-agg merge order (tied
    # docs would otherwise rank-shuffle run to run).
    return (
        tf.join(F.broadcast(dfr), "tok")
        .join(terms, "tok")
        .join(corpus)
        .groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(term_score)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score")
        )
    )


@query(
    "q_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl
    ), terms(query_id, tok) AS (
      VALUES {", ".join(f"('{qid}', '{t}')" for qid, ts in _BM25_QUERIES for t in ts)}
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE tok IN (SELECT tok FROM terms)
      GROUP BY doc_id, tok
    ), dfr AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT t.query_id, f.doc_id,
             list_reduce(
               list_sort(list(
                 ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * f.tf * ({_BM25_K1} + 1)
                 / (f.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               )),
               (a, b) -> a + b
             ) AS score
      FROM tf f
      JOIN dfr d USING (tok)
      JOIN terms t ON t.tok = f.tok
      JOIN dl l ON l.doc_id = f.doc_id
      CROSS JOIN stats s
      GROUP BY t.query_id, f.doc_id
    )
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank,
           round(score, 4) AS score
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 per query over the corpus (k1=1.2, b=0.75, the
    Robertson idf with +1 floor). Scale shape: the token stream is
    FILTERED to query terms before any shuffle (only matching tokens
    move — for a 3-term query that is a vanishing fraction of 100 TB),
    doc length rides the projection into the tf aggregate as a
    first() instead of a corpus-wide self-join, the per-term document
    frequencies and corpus stats are broadcast 1-row/·|terms| aggregates,
    and top-5 per query is a WindowGroupLimit, not a global sort."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    scored = bm25_scored(spark, docs)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "rank", rnd("score", 4).alias("score"))
    )


@query(
    "q_quality_gopher",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             list_sum([CAST(length(x) AS DOUBLE) for x in w])
               / len(w) AS mwl,
             len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(w) AS DOUBLE) AS fa,
             CAST(len(list_distinct(list_filter(w,
                 x -> list_contains(['the','be','to','of','and',
                                     'that','have','with'], x))))
               AS BIGINT) AS n_stop
      FROM t
    )
    SELECT doc_id, n_words,
           round(mwl, 4) AS mean_word_len,
           round(fa, 4) AS frac_alpha_words,
           n_stop AS n_stop_kinds,
           (n_words BETWEEN 50 AND 100000
            AND mwl BETWEEN 3 AND 10
            AND fa >= 0.8
            AND n_stop >= 2) AS passes_gopher
    FROM m
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style rule-based quality filter (Rae et al.
    2021, §A.1.1): a document passes iff its word count is in
    [50, 100k], mean word length in [3, 10], at least 80% of words
    contain an alphabetic character, and it contains >= 2 distinct
    words from the 8-word English stop list — the standard cheap
    pre-filter that runs BEFORE any model-based scoring in a pretraining
    pipeline (q_text_quality is the score; this is the hard gate).

    Scale: entirely map-side — one pass of higher-order functions per
    document, no shuffle, no Python; verdicts stream straight into the
    curation funnel. Thresholds compare UNROUNDED values (both engines
    compute the identical double), rounding only display columns."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    d = materialize(docs.select("doc_id", "text"), w=w).drop("text")
    n_words = F.size("w").cast("bigint")
    mwl = F.aggregate(
        "w", F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    ) / F.size("w")
    fa = F.size(F.filter("w", lambda x: x.rlike("[a-z]"))) / F.size("w").cast(
        "double"
    )
    stops = F.array(
        *[F.lit(s) for s in ["the", "be", "to", "of", "and", "that", "have", "with"]]
    )
    n_stop = F.size(
        F.array_distinct(F.filter("w", lambda x: F.array_contains(stops, x)))
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        fa.alias("fa"),
        n_stop.alias("n_stop"),
    )
    return m.select(
        "doc_id",
        "n_words",
        rnd("mwl", 4).alias("mean_word_len"),
        rnd("fa", 4).alias("frac_alpha_words"),
        F.col("n_stop").alias("n_stop_kinds"),
        (
            F.col("n_words").between(50, 100000)
            & F.col("mwl").between(3, 10)
            & (F.col("fa") >= 0.8)
            & (F.col("n_stop") >= 2)
        ).alias("passes_gopher"),
    )


_RRF_K = 60
_RRF_VEC_QUERIES = [("q1", 1), ("q2", 2), ("q3", 3)]  # query_id -> vec_id


def _rrf_oracle() -> str:
    # Assembled in a function (not a module constant) because it
    # splices in similarity._COS_SQL; defined before the decorator so
    # the oracle registers with the query.
    from sparrow_spark.operators.similarity import _COS_SQL

    terms_values = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _BM25_QUERIES for t in ts
    )
    vq_values = ", ".join(f"('{qid}', {vid})" for qid, vid in _RRF_VEC_QUERIES)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl
    ), terms(query_id, tok) AS (
      VALUES {terms_values}
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE tok IN (SELECT tok FROM terms)
      GROUP BY doc_id, tok
    ), dfr AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ), lex_scored AS (
      SELECT t.query_id, f.doc_id,
             list_reduce(
               list_sort(list(
                 ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * f.tf * ({_BM25_K1} + 1)
                 / (f.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               )),
               (a, b) -> a + b
             ) AS score
      FROM tf f
      JOIN dfr d USING (tok)
      JOIN terms t ON t.tok = f.tok
      JOIN dl l ON l.doc_id = f.doc_id
      CROSS JOIN stats s
      GROUP BY t.query_id, f.doc_id
    ), lex AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank_lex
      FROM lex_scored
      QUALIFY rank_lex <= 20
    ), vq(query_id, vid) AS (
      VALUES {vq_values}
    ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vec AS (
      SELECT t.query_id, b.vec_id AS doc_id,
             row_number() OVER (PARTITION BY t.query_id
                                ORDER BY {_COS_SQL} DESC, b.vec_id) AS rank_vec
      FROM vq t JOIN e a ON a.vec_id = t.vid JOIN e b ON true
      QUALIFY rank_vec <= 20
    ), fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.rank_lex, v.rank_vec,
             coalesce(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
               + coalesce(1.0 / ({_RRF_K} + v.rank_vec), 0.0) AS rrf_score
      FROM lex l FULL OUTER JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    )
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf_score DESC, doc_id) AS rrf_rank,
           round(rrf_score, 6) AS rrf_score,
           CAST(rank_lex AS BIGINT) AS rank_lex,
           CAST(rank_vec AS BIGINT) AS rank_vec
    FROM fused
    QUALIFY rrf_rank <= 5
    """


@query("q_hybrid_rrf", oracle=_rrf_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal rank fusion (RRF, Cormack et
    al. 2009 — the fusion Elasticsearch/OpenSearch use for
    lexical+vector hybrid search): BM25 top-20 and embedding-cosine
    top-20 per query are fused by score = sum over rankers of
    1/(60 + rank); top-5 fused results per query. Each query pairs its
    _BM25_QUERIES terms with one query embedding (vec_id 1..3 — the
    fixture's embedding of the same-id document).

    Scale: each ranker prunes to top-k BEFORE fusion (WindowGroupLimit
    per query), so the full-outer fusion join touches only
    O(queries x k) rows regardless of corpus size; the vector side
    broadcasts 3 query vectors at the corpus, the lexical side moves
    only query-term token hits. Rank fusion deliberately avoids
    comparing raw scores across rankers (BM25 and cosine are on
    incommensurable scales) — only integer ranks meet, which is also
    what makes the oracle comparison exact."""
    from pyspark.sql import Window

    from sparrow_spark.operators.similarity import _vecs, cosine, l2_norm

    docs = widen(load_table(spark, sf_dir, "documents"))
    lex_scored = bm25_scored(spark, docs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    lex = (
        lex_scored.withColumn("rank_lex", F.row_number().over(w))
        .filter(F.col("rank_lex") <= 20)
        .select("query_id", "doc_id", "rank_lex")
    )
    vq = local_df(spark, _RRF_VEC_QUERIES, "query_id string, vid bigint")
    vecs = _vecs(spark, sf_dir).select("vec_id", "v", l2_norm(F.col("v")).alias("vn"))
    qv = vq.join(vecs, vq.vid == vecs.vec_id).select(
        "query_id", F.col("v").alias("qv"), F.col("vn").alias("qn")
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("doc_id"))
    vec = (
        vecs.crossJoin(F.broadcast(qv))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")).alias("cos"),
        )
        .withColumn("rank_vec", F.row_number().over(wv))
        .filter(F.col("rank_vec") <= 20)
        .select("query_id", "doc_id", "rank_vec")
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("rank_vec")), F.lit(0.0)
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rrf_rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rrf_rank") <= 5)
        .select(
            "query_id",
            "doc_id",
            "rrf_rank",
            rnd("rrf_score", 6).alias("rrf_score"),
            F.col("rank_lex").cast("bigint").alias("rank_lex"),
            F.col("rank_vec").cast("bigint").alias("rank_vec"),
        )
    )


@query(
    "q_bpe_merge_step",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), tfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok
      WHERE length(tok) >= 2 GROUP BY tok
    ), pairs AS (
      SELECT substr(tok, i, 2) AS pair, freq
      FROM tfreq, unnest(range(1, length(tok))) AS t(i)
    ), counted AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
    FROM counted
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE iteration of BPE tokenizer training's counting step: the
    corpus-wide frequency of adjacent symbol pairs (here: character
    bigrams inside whitespace words), whose argmax is the next merge
    rule (Sennrich et al. 2016). Output: the top-20 candidate merges
    with deterministic (count DESC, pair ASC) ranking.

    Scale: the pair explode runs over the DISTINCT-token table
    weighted by token frequency — the standard trick that makes BPE
    training corpus-size-independent: a 100 TB corpus has a bounded
    vocabulary, so after the one token-count shuffle every remaining
    stage is vocabulary-sized. Top-20 is TakeOrderedAndProject, not a
    global sort. The full training loop re-runs this step after
    applying each merge to the (small) vocab table — the corpus is
    touched exactly once."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tfreq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = tfreq.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("n"))
    from pyspark.sql import Window

    # Top-20 via orderBy+limit (TakeOrderedAndProject — per-partition
    # heap, 20-row final merge); the rank window then orders only the
    # 20 surviving rows, never the full pair table.
    top = counted.orderBy(F.col("n").desc(), "pair").limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy("rank")
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
      FROM tok GROUP BY doc_id, tok
    ), n AS (
      SELECT doc_id, sum(c) AS n, CAST(count(*) AS BIGINT) AS n_unique
      FROM tf GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(n.n AS BIGINT) AS n_tokens,
           n.n_unique,
           round(-sum((t.c / n.n) * ln(t.c / n.n)) / ln(2), 4) AS entropy_bits,
           round(-sum((t.c / n.n) * ln(t.c / n.n)) / ln(2)
                 / (CASE WHEN n.n_unique = 1 THEN 1.0
                         ELSE ln(n.n_unique) / ln(2) END), 4) AS entropy_ratio
    FROM tf t JOIN n USING (doc_id)
    GROUP BY t.doc_id, n.n, n.n_unique
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (bits),
    plus the ratio to its maximum log2(n_unique) — the
    information-theoretic quality signal: templated/boilerplate pages
    sit near 0, natural prose near 1 (repetition-heavy docs that fool
    length filters fail here; the complement of q_repetition_filter's
    n-gram view). Used as a Gopher-style gate input and for
    dedup-resistant boilerplate detection.

    Scale: one map-side token explode into a (doc, token) count
    aggregate keyed on doc_id — a single shuffle with map-side
    combine; the entropy fold is then a per-group sum. No pairwise
    anything, no Python."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_unique")
    )
    p = F.col("c") / F.col("n")
    ent = -F.sum(p * F.log(p)) / F.log(F.lit(2.0))
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n", "n_unique")
        .agg(ent.alias("h"))
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "n_unique",
            rnd("h", 4).alias("entropy_bits"),
            rnd(
                F.col("h")
                / F.when(F.col("n_unique") == 1, 1.0).otherwise(
                    F.log(F.col("n_unique").cast("double")) / F.log(F.lit(2.0))
                ),
                4,
            ).alias("entropy_ratio"),
        )
    )


@query(
    "q_perplexity_bigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), big AS (
      SELECT doc_id,
             unnest([{prev: w[i], cur: w[i+1]}
                     for i in range(1, len(w))], recursive := true)
      FROM tok WHERE len(w) >= 2
    ), uni AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS n FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE doc_id % 10 = 0 GROUP BY tok
    ), bi AS (
      SELECT prev, cur, CAST(count(*) AS DOUBLE) AS nb
      FROM big WHERE doc_id % 10 = 0 GROUP BY prev, cur
    ), stats AS (
      SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
      FROM uni
    ), scored AS (
      SELECT t.doc_id,
             -ln(0.7 * coalesce(b.nb / up.n, 0.0)
                 + 0.3 * coalesce((uc.n + 1) / (m.total + m.v),
                                  1.0 / (m.total + m.v))) AS nll
      FROM big t
      CROSS JOIN stats m
      LEFT JOIN bi b ON b.prev = t.prev AND b.cur = t.cur
      LEFT JOIN uni up ON up.tok = t.prev
      LEFT JOIN uni uc ON uc.tok = t.cur
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 5) AS avg_nll,
           round(exp(avg(nll)), 3) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def q_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity — one smoothing step up from
    q_perplexity_unigram toward KenLM: p(w|v) = 0.7 * c(v,w)/c(v)
    + 0.3 * p_add1_unigram(w), trained on the same deterministic
    1-in-10 sample, scored over every document's ordered bigram
    stream. Bigram context separates word-salad from fluent text that
    unigram frequency cannot (same words, wrong order).

    Scale: the model is two count tables from the sample; the unigram
    table broadcasts at any corpus size, and the bigram table
    broadcasts here (bounded vocab) — on an open-vocabulary corpus it
    joins by key instead (one shuffle of the bigram stream, map-side
    combinable), which is the only change. Scoring itself stays
    explode + model joins + per-doc rollup; positions scored are
    2..n, matching a left-to-right LM."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(
        docs.select("doc_id", "text"), w=tokens(F.col("text"))
    ).filter(F.size("w") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("prev"),
                    F.element_at("w", i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    uni = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("doc_id") % 10 == 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    bi = (
        bigrams.filter(F.col("doc_id") % 10 == 0)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    stats = uni.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    up = uni.select(F.col("tok").alias("prev"), F.col("n").alias("n_prev"))
    uc = uni.select(F.col("tok").alias("cur"), F.col("n").alias("n_cur"))
    denom = F.col("total") + F.col("v")
    p_bi = F.coalesce(F.col("nb") / F.col("n_prev"), F.lit(0.0))
    p_uni = F.coalesce((F.col("n_cur") + 1) / denom, F.lit(1.0) / denom)
    scored = (
        bigrams.crossJoin(stats)
        .join(bi, ["prev", "cur"], "left")
        .join(up, "prev", "left")
        .join(uc, "cur", "left")
        .select("doc_id", (-F.log(0.7 * p_bi + 0.3 * p_uni)).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        rnd(F.avg("nll"), 5).alias("avg_nll"),
        rnd(F.exp(F.avg("nll")), 3).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint selection (MOSS-style local document sketches)
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-gram (in words) per hash
WINNOW_W = 4  # winnowing window: guarantee one fingerprint per w k-grams


def _text_shingles(w: Column, k: int) -> Column:
    """k-word shingle array from an already-materialized token-array
    column (must be an attribute, not an expression — see
    sources.materialize). Shared by the text, dedup and sketch
    operators."""
    return F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(k)]),
    )


def winnow_positions(
    docs: DataFrame, text_col: str = "text", k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, hs, pos): per-doc k-gram hash array and the DISTINCT
    1-based positions winnowing selects (rightmost minimum of every
    w-hash sliding window). Map-side only — nested higher-order
    functions, zero shuffles."""
    toks = materialize(docs, toks_=tokens(F.col(text_col))).filter(
        F.size("toks_") >= k + w - 1
    )
    grams = materialize(
        toks.select("doc_id", "toks_"),
        hs=F.transform(
            _text_shingles(F.col("toks_"), k),
            lambda g: F.substring(F.md5(g), 1, 8),
        ),
    ).select("doc_id", "hs")
    with_sts = materialize(
        grams,
        sts=F.transform(
            F.col("hs"), lambda x, i: F.struct(x.alias("h"), (i + 1).alias("p"))
        ),
    )
    # For each window start j (1-based), rightmost argmin of hs[j..j+w-1].
    win_pick = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (w - 1)),
        lambda j: F.aggregate(
            F.slice(F.col("sts"), j, w),
            F.element_at(F.col("sts"), j),
            lambda acc, s: F.when(s["h"] <= acc["h"], s).otherwise(acc),
        )["p"],
    )
    return materialize(with_sts, pos=F.array_distinct(win_pick)).select(
        "doc_id", "hs", "pos"
    )


@query(
    "q_winnowing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ), g AS (
      SELECT doc_id,
             [substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8)
              for i in range(1, len(w) - 1)] AS hs
      FROM tok
    ), st AS (
      SELECT doc_id, hs,
             [struct_pack(h := hs[i], p := i)
              for i in range(1, len(hs) + 1)] AS sts
      FROM g
    ), sel AS (
      SELECT doc_id, hs,
             list_distinct(
               [list_reduce(sts[j:j+{WINNOW_W - 1}],
                            (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END).p
                for j in range(1, len(hs) - {WINNOW_W - 2})]) AS pos
      FROM st
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_kgrams,
           CAST(len(pos) AS BIGINT) AS n_selected,
           round(len(pos) / CAST(len(hs) AS DOUBLE), 4) AS density,
           md5(list_aggregate(list_sort(list_distinct([hs[p] for p in pos])),
                              'string_agg', '|')) AS fp_checksum
    FROM sel
    """,
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS sketch): hash every k-gram, slide a window of
    w consecutive hashes, keep the RIGHTMOST minimum of each window.
    Guarantees: at least one fingerprint per w k-grams (no long
    unfingerprinted gap — the property plain modulo-sampling lacks) and
    any shared substring of length >= w + k - 1 yields a shared
    fingerprint. Output per doc: k-gram count, selected-fingerprint
    count, density (expected 2/(w+1) on random input), and an
    order-insensitive checksum of the selected fingerprint SET so the
    oracle verifies the exact selection, not just its size.

    Scale: entirely map-side — nested higher-order functions (transform
    + aggregate) over each doc's own hash array inside whole-stage
    codegen; zero shuffles, zero UDFs. Per-doc cost O(m*w) with w a
    small constant. The fingerprint sets feed the same band-bucket
    join machinery as MinHash when used for pairing (the k-gram index
    is posting-list shaped); this query registers the sketch builder.

    Rightmost-min-on-ties matches the paper's robust winnowing rule;
    implemented as a fold that replaces the accumulator on <=, which
    both engines evaluate identically (the fold starts at the window's
    first element; re-comparing it against itself is a no-op)."""
    picked = winnow_positions(widen(load_table(spark, sf_dir, "documents")))
    m = F.size("hs")
    sel_hashes = F.array_sort(
        F.array_distinct(
            F.transform(F.col("pos"), lambda p: F.element_at(F.col("hs"), p))
        )
    )
    return picked.select(
        "doc_id",
        m.cast("bigint").alias("n_kgrams"),
        F.size("pos").cast("bigint").alias("n_selected"),
        rnd(F.size("pos") / m.cast("double"), 4).alias("density"),
        F.md5(F.concat_ws("|", sel_hashes)).alias("fp_checksum"),
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier (fastText-style scoring)
# ---------------------------------------------------------------------------

CLS_DIM = 32  # hashing-trick feature dimension


def _cls_weights_milli() -> list[int]:
    """Deterministic pseudo-trained weight vector in INTEGER
    milli-units (range [-1000, 1000], i.e. weight*1000), derived from
    md5 so every engine (and every run) sees identical literals. A
    real pipeline broadcasts weights exported by an offline trainer;
    the hashing-trick scoring path below is identical either way.

    Integers, not floats: the per-doc score is a SUM over buckets, and
    float summation order varies with Spark's partial-agg merge order.
    With true logits that land exactly on a 4-decimal rounding tie
    (at sf0.01, 5 of 500 docs), the side of the tie then flips run to
    run (the r7 driver red). A BIGINT sum of milli-weights is exact
    and order-independent; divide by 1000.0*n ONCE at the end, so both
    engines derive the identical double no matter the partitioning."""
    import hashlib

    return [
        int(hashlib.md5(f"w:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for d in range(CLS_DIM)
    ]


def _cls_weights_milli_sql() -> str:
    return "[" + ", ".join(str(w) for w in _cls_weights_milli()) + "]"


def classifier_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n, wsum_milli): token count and summed hashed-bucket
    milli-weight (exact BIGINT) per doc — the shared scoring core of
    q_quality_classifier and the curriculum bucketing.
    logit = wsum_milli / (1000.0 * n)."""
    w_arr = F.array(*[F.lit(w) for w in _cls_weights_milli()])
    tok = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("b:"), F.col("t"))), 1, 8), 16, 10)
        .cast("bigint") % CLS_DIM
    ).cast("int")
    c = tok.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("cnt").cast("bigint")
            * F.element_at(w_arr, F.col("bucket") + 1).cast("bigint")
        ).alias("wsum_milli"),
    )


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ), b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('b:' || t), 1, 8))::UBIGINT % {CLS_DIM}
                  AS INT) AS bucket
      FROM tok
    ), c AS (
      SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket
    ), s AS (
      SELECT doc_id,
             sum(cnt) AS n,
             sum(CAST(cnt AS BIGINT)
                 * ({_cls_weights_milli_sql()})[bucket + 1]) AS wsum_milli
      FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           round(wsum_milli / (1000.0 * n), 4) AS logit,
           round(1.0 / (1.0 + exp(-(wsum_milli / (1000.0 * n)))), 4) AS p_keep,
           round(wsum_milli / (1000.0 * n), 4) >= 0 AS keep
    FROM s
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear document-quality classifier over hashing-trick bag-of-
    words features (the fastText / Vowbal-Wabbit scoring shape used by
    production quality filters such as the CCNet/LLaMA wikiref
    classifiers): bucket = md5(token) mod D, feature = bucket count /
    doc length, score = sigmoid(w . x). The weight vector is a D-row
    BROADCAST table (here a deterministic pseudo-trained literal array;
    a real pipeline loads exported trainer weights) — scoring a 100 TB
    corpus is then one explode + two map-side-combining keyed
    aggregations on (doc, bucket) and (doc); the model never shuffles
    and no Python executes (pure JVM hash/agg, whole-stage codegen).

    The keep verdict thresholds the ROUNDED logit, and the weighted
    sum is an exact BIGINT fold over integer milli-weights (see
    _cls_weights_milli): the logit double is bit-identical on both
    engines and across any partitioning, so the 4-decimal rounding can
    never flip on summation order (the r7 driver-red root cause)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    s = classifier_scores(docs)
    logit = F.col("wsum_milli") / (F.lit(1000.0) * F.col("n"))
    return s.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        rnd(logit, 4).alias("logit"),
        rnd(1.0 / (1.0 + F.exp(-logit)), 4).alias("p_keep"),
        (rnd(logit, 4) >= 0).alias("keep"),
    )


@query(
    "q_winnowing_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ), g AS (
      SELECT doc_id,
             [substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8)
              for i in range(1, len(w) - 1)] AS hs
      FROM tok
    ), st AS (
      SELECT doc_id, hs,
             [struct_pack(h := hs[i], p := i)
              for i in range(1, len(hs) + 1)] AS sts
      FROM g
    ), sel AS (
      SELECT doc_id, hs,
             list_distinct(
               [list_reduce(sts[j:j+{WINNOW_W - 1}],
                            (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END).p
                for j in range(1, len(hs) - {WINNOW_W - 2})]) AS pos
      FROM st
    ), fps AS (
      SELECT doc_id, unnest(list_distinct([hs[p] for p in pos])) AS fp
      FROM sel
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-duplicate pairs from SHARED WINNOWING
    FINGERPRINTS — the MOSS pairing step: two documents sharing >= 3
    selected fingerprints share (with high probability) >= 3 distinct
    guaranteed substrings of length w + k - 1, a much stronger signal
    than a single hash collision. This closes the winnowing family:
    q_winnowing builds the sketch, this query joins on it.

    Scale: identical shape to the MinHash band join — fingerprints are
    posting lists (each ~2/(w+1) of a doc's k-grams), candidates come
    from the fingerprint equi-join only, and the >= 3 co-occurrence
    cut runs INSIDE the aggregation (count per pair), so weak
    one-off collisions never leave the shuffle. Never all-pairs."""
    fps = (
        winnow_positions(widen(load_table(spark, sf_dir, "documents")))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.col("pos"), lambda p: F.element_at(F.col("hs"), p)
                    )
                )
            ).alias("fp"),
        )
    )
    a = fps.select(F.col("doc_id").alias("a_id"), "fp")
    b = fps.select(F.col("doc_id").alias("b_id"), "fp")
    # r16 continuation (guide §2.2): the pair-count aggregation stage is
    # per-row compute over the join's fan-out, but AQE byte-coalesced it
    # to 2 post-shuffle tasks (3 MB). A user repartition on the grouping
    # keys replaces (not adds) the groupBy exchange and is exempt from
    # coalescing — same documented exemption as q_sorted_neighborhood.
    # Same-session A/B/A: 0.177/0.152 -> 0.094 s, identical 416 rows.
    par = fps.sparkSession.sparkContext.defaultParallelism
    return (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .repartition(par, "a_id", "b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# ---------------------------------------------------------------------------
# BPE trainer: K merge rounds as one lazy distributed plan
# ---------------------------------------------------------------------------

BPE_TRAIN_MERGES = 3


def _bpe_oracle_sql(k: int = BPE_TRAIN_MERGES) -> str:
    parts = [
        r"""
    WITH v0 AS (
      SELECT t AS word, count(*) AS freq,
             regexp_replace(t, '(.)', '|\1', 'g') || '|' AS syms
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
      WHERE t <> '' GROUP BY t
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", pr{i} AS (
      SELECT pr.a AS p1, pr.b AS p2, sum(freq) AS cnt
      FROM (
        SELECT freq,
               unnest([struct_pack(a := arr[j], b := arr[j + 1])
                       for j in range(1, len(arr))]) AS pr
        FROM (SELECT freq, string_split(trim(syms, '|'), '|') AS arr
              FROM v{i - 1})
      ) GROUP BY pr.a, pr.b
    ), b{i} AS (
      SELECT p1, p2, cnt FROM pr{i}
      ORDER BY cnt DESC, p1 || ' ' || p2 DESC LIMIT 1
    ), v{i} AS (
      SELECT word, freq,
             replace(syms,
                     '|' || (SELECT p1 FROM b{i}) || '|' ||
                     (SELECT p2 FROM b{i}) || '|',
                     '|' || (SELECT p1 FROM b{i}) ||
                     (SELECT p2 FROM b{i}) || '|') AS syms
      FROM v{i - 1}
    )"""
        )
    sel = "\n    UNION ALL\n".join(
        f"""    SELECT {i} AS it, p1 || ' ' || p2 AS pair,
           CAST(cnt AS BIGINT) AS weighted_count FROM b{i}"""
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + sel


def _bpe_encode_oracle_sql(k: int = BPE_TRAIN_MERGES) -> str:
    chain = _bpe_oracle_sql(k)
    chain = chain[: chain.index("    SELECT 1 AS it")]
    return (
        chain
        + f"""    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(length(v.word)) AS BIGINT) AS n_char_syms,
           CAST(sum(len(string_split(trim(v.syms, '|'), '|'))) AS BIGINT)
             AS n_symbols,
           round(sum(len(string_split(trim(v.syms, '|'), '|'))) /
                 CAST(sum(length(v.word)) AS DOUBLE), 4) AS compression
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
          FROM documents) d
    JOIN v{k} v ON v.word = d.t
    WHERE d.t <> ''
    GROUP BY d.doc_id"""
    )


@query("q_bpe_encode", oracle=_bpe_encode_oracle_sql())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODER: tokenize the corpus with the merges q_bpe_train
    just learned — per document, token count, pre-merge symbol count
    (characters), post-merge symbol count, and the compression ratio.
    Closes the tokenizer loop: train (vocabulary-sized work) ->
    encode (corpus-sized, but via a JOIN against the trained
    word->symbols table, so each word is segmented ONCE no matter how
    often it occurs — the standard vocabulary-cache trick that makes
    BPE encoding of a 100 TB corpus a broadcast-joinable lookup for
    the head of the word distribution, not per-token re-merging)."""
    vocab = _bpe_vocab(spark, sf_dir)
    _, final_state = bpe_train_rounds(vocab)
    seg = final_state.select(
        "word",
        F.length("word").cast("bigint").alias("n_char_syms_w"),
        F.size(F.split(F.expr("trim(BOTH '|' FROM syms)"), "[|]"))
        .cast("bigint")
        .alias("n_syms_w"),
    )
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        tok.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("n_char_syms_w").cast("bigint").alias("n_char_syms"),
            F.sum("n_syms_w").cast("bigint").alias("n_symbols"),
            rnd(
                F.sum("n_syms_w") / F.sum("n_char_syms_w").cast("double"), 4
            ).alias("compression"),
        )
    )


@query("q_bpe_train", oracle=_bpe_oracle_sql())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TRAINER: K rounds of (count adjacent symbol
    pairs weighted by word frequency -> merge the most frequent pair
    everywhere) as ONE lazy distributed plan — q_bpe_merge_step does a
    single round; this learns an ordered merge list, the actual
    tokenizer-training loop.

    Distributed shape, per round: pair counting is an explode over the
    WORD VOCABULARY (already a tiny aggregate of the corpus — BPE
    training never touches raw documents after the first frequency
    count) + one keyed sum; the winning pair is a 1-row broadcast
    (deterministic tiebreak: highest count, then lexicographically
    LAST pair — both engines compare binary UTF-8); the merge applies
    as a sentinel-delimited string replace ('|p1|p2|' -> '|p1p2|'),
    whose left-to-right non-overlapping semantics are exactly BPE's
    greedy merge and are identical in Spark and DuckDB (pytest-pinned
    for the 'aaa' overlap case in the engines' shared prototype).
    Because K is FIXED, the loop is fully lazy — no driver actions, no
    checkpoints; the plan is K chained rounds over the vocabulary
    table."""
    picks, _ = bpe_train_rounds(_bpe_vocab(spark, sf_dir))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, syms): corpus word frequencies with each word's
    sentinel-delimited character symbols — BPE training state zero.
    The raw corpus is touched exactly here; every training round works
    on this vocabulary aggregate."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.col("t").alias("word"),
            "freq",
            F.concat(
                F.regexp_replace("t", "(.)", r"|$1"), F.lit("|")
            ).alias("syms"),
        )
    )


def bpe_train_rounds(
    vocab: DataFrame, k: int = BPE_TRAIN_MERGES
) -> tuple[list[DataFrame], DataFrame]:
    """Run k lazy BPE merge rounds over a (word, freq, syms) vocabulary.
    Returns (one 1-row pick DataFrame per round, final vocab state with
    all merges applied) — the trainer query unions the picks; the
    encoder consumes the final state."""
    state = vocab
    picks = []
    for i in range(1, k + 1):
        arr = F.split(F.expr("trim(BOTH '|' FROM syms)"), "[|]")
        with_arr = materialize(state, arr=arr)
        prs = with_arr.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("arr"), 1, F.size("arr") - 1),
                    F.slice(F.col("arr"), 2, F.size("arr") - 1),
                )
            ).alias("pr"),
        ).select(
            F.col("pr").getField("0").alias("p1"),
            F.col("pr").getField("1").alias("p2"),
            "freq",
        )
        cnts = prs.groupBy("p1", "p2").agg(F.sum("freq").alias("cnt"))
        best = cnts.agg(
            F.max(
                F.struct(
                    F.col("cnt"),
                    F.concat_ws(" ", "p1", "p2").alias("pair"),
                    F.col("p1"),
                    F.col("p2"),
                )
            ).alias("b")
        ).select(
            F.col("b.cnt").alias("cnt"),
            F.col("b.pair").alias("pair"),
            F.col("b.p1").alias("bp1"),
            F.col("b.p2").alias("bp2"),
        )
        picks.append(
            best.select(
                F.lit(i).alias("it"),
                "pair",
                F.col("cnt").cast("bigint").alias("weighted_count"),
            )
        )
        state = state.crossJoin(best).select(
            "word",
            "freq",
            F.replace(
                F.col("syms"),
                F.concat(F.lit("|"), "bp1", F.lit("|"), "bp2", F.lit("|")),
                F.concat(F.lit("|"), "bp1", "bp2", F.lit("|")),
            ).alias("syms"),
        )
    return picks, state


@query(
    "q_repetition_ngram_fracs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_ch,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), ng AS (
      SELECT doc_id, n_ch, w,
             [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS b2,
             [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
              for i in range(1, len(w) - 1)] AS b3
      FROM tok WHERE len(w) >= 3
    ), m AS (
      SELECT doc_id, n_ch,
             CAST(len(w) AS BIGINT) AS n_words,
             1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS dw,
             list_max([len(list_filter(b2, x -> x = d)) * length(d)
                       for d in list_distinct(b2)]) / CAST(n_ch AS DOUBLE) AS t2,
             list_max([len(list_filter(b3, x -> x = d)) * length(d)
                       for d in list_distinct(b3)]) / CAST(n_ch AS DOUBLE) AS t3
      FROM ng
    )
    SELECT doc_id, n_words,
           round(dw, 6) AS dup_word_frac,
           round(t2, 6) AS top2_char_frac,
           round(t3, 6) AS top3_char_frac,
           (dw > 0.6 OR t2 > 0.18 OR t3 > 0.16) AS is_repetitive
    FROM m
    """,
)
def q_repetition_ngram_fracs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition signals (Rae et al. 2021 §A.1.1,
    Table A1 family): duplicate-word fraction plus the fraction of
    characters covered by the MOST frequent word 2-gram / 3-gram —
    boilerplate and spam score high on at least one. Complements
    q_repetition_filter's distinct-trigram ratio with the char-
    weighted variants the paper gates on.

    Exactness: every metric is an integer count times an n-gram
    character length over the document's character count — identical
    IEEE division on both engines; thresholds compare those exact
    doubles.

    Scale: pure map-side higher-order functions (distinct + filter
    folds are O(words x distinct) within one document, bounded by doc
    length), zero shuffles, whole-stage codegen throughout — the
    corpus streams through once."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(
        docs.select("doc_id", F.length("text").cast("bigint").alias("n_ch"), "text"),
        w=tokens(F.col("text")),
    ).filter(F.size("w") >= 3)
    grams = materialize(
        toks.drop("text"),
        b2=_text_shingles(F.col("w"), 2),
        b3=_text_shingles(F.col("w"), 3),
    )

    def top_frac(arr):
        return (
            F.array_max(
                F.transform(
                    F.array_distinct(arr),
                    lambda d: F.size(F.filter(arr, lambda x: x == d))
                    * F.length(d),
                )
            )
            / F.col("n_ch").cast("double")
        )

    dw = 1 - F.size(F.array_distinct("w")) / F.size("w").cast("double")
    t2, t3 = top_frac(F.col("b2")), top_frac(F.col("b3"))
    return grams.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        rnd(dw, 6).alias("dup_word_frac"),
        rnd(t2, 6).alias("top2_char_frac"),
        rnd(t3, 6).alias("top3_char_frac"),
        ((dw > 0.6) | (t2 > 0.18) | (t3 > 0.16)).alias("is_repetitive"),
    )


@query(
    "q_langid_confusion",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), ex AS (
      SELECT doc_id, lang,
             unnest([s[i:i+1] for i in range(1, length(s))]) AS bg
      FROM norm WHERE doc_id % 10 = 0
    ), prof AS (
      SELECT lang AS cand_lang, bg FROM (
        SELECT lang, bg, count(*) AS c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, bg) AS r
        FROM ex GROUP BY lang, bg
      ) WHERE r <= 40
    ), doc_bg AS (
      SELECT DISTINCT doc_id,
             unnest([s[i:i+1] for i in range(1, length(s))]) AS bg
      FROM norm
    ), scored AS (
      SELECT doc_id, cand_lang, count(*) AS n_match,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY count(*) DESC, cand_lang) AS rnk
      FROM doc_bg JOIN prof USING (bg)
      GROUP BY doc_id, cand_lang
    )
    SELECT d.lang AS lang_true, s.cand_lang AS lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM scored s JOIN norm d USING (doc_id)
    WHERE s.rnk = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the n-gram
    classifier's prediction against the labeled lang column — the
    audit that decides whether a language filter is safe to apply
    corpus-wide (per-language precision/recall fall out of the
    matrix rows/columns).

    Scale: inherits langid_ngram's shape (broadcast profile model, no
    corpus shuffle for scoring); the matrix itself is one keyed agg
    bounded by langs², and the label join is by doc_id — the one
    keyed shuffle. On this synthetic fixture all languages share a
    vocabulary, so the matrix exercises mechanics, not accuracy."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    pred = langid_ngram(docs)
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("lang_true"), "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


NEG_SAMPLES_PER_DOC = 4
NEG_TABLE_POW = 0.75


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ), vocab AS (
      SELECT t, pow(count(*), {NEG_TABLE_POW}) AS wt
      FROM tok GROUP BY t
    ), cum AS (
      SELECT t, wt,
             coalesce(sum(wt) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
             sum(wt) OVER (ORDER BY t) AS hi,
             sum(wt) OVER () AS total
      FROM vocab
    ), draws AS (
      SELECT d.doc_id, s.slot,
             ((d.doc_id * 7919 + s.slot) * 48271 % 1000000)
               / 1000000.0 AS u
      FROM (SELECT DISTINCT doc_id FROM tok) d,
           (SELECT unnest(range({NEG_SAMPLES_PER_DOC})) AS slot) s
    )
    SELECT d.doc_id, d.slot, c.t AS negative
    FROM draws d JOIN cum c
      ON d.u * c.total >= c.lo AND d.u * c.total < c.hi
    ORDER BY d.doc_id, d.slot
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling table construction and deterministic draws
    (word2vec / contrastive training): vocabulary weights ∝
    frequency^0.75 (Mikolov et al. 2013 — damps stopword dominance
    without losing them), cumulative ranges over the alphabetical
    vocab, and per-(doc, slot) pseudo-random draws mapped into those
    ranges. Deterministic end-to-end: the draw is a hash of
    (doc_id, slot), so the oracle reproduces every sampled negative.

    The draw is a pure-arithmetic LCG step on (doc_id, slot) —
    engines share no portable integer hash, and integer arithmetic
    is identical everywhere; all quantities stay far inside exact
    BIGINT/double range.

    Scale: the cumulative ranges come from global_running_sums
    (range-partition on t + local running sum + broadcast predecessor
    totals — every stage scales with executors, NO partition-less
    window even over the vocab table) and the grand total is a 1-row
    broadcast aggregate; the draws table is docs x slots built
    map-side; the range lookup is the banded-join pattern (here a
    broadcast range join against the vocab-sized cum table — at a
    1M+ vocab, bucket the [0, total) axis and equi-join on the
    bucket exactly like q_range_join_banded)."""
    from sparrow_spark.operators.dedup import (
        global_running_sums,
        global_sort_ranks,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    vocab = tok.groupBy("t").agg(
        F.pow(F.count(F.lit(1)), F.lit(NEG_TABLE_POW)).alias("wt")
    )
    # lo must be the PREDECESSOR'S inclusive cumulative bit-for-bit
    # (rank self-join), not fl(cum - wt): subtracting wt can differ
    # from the true exclusive prefix by an ulp, letting consecutive
    # [lo, hi) ranges overlap (a boundary draw matches two tokens) or
    # gap (a draw silently drops). With lo_i := hi_{i-1} the ranges
    # tile [0, total) exactly, so every draw matches exactly one
    # token — same guarantee the oracle's exclusive/inclusive window
    # pair gives. total = one broadcast row; still no single-task
    # global window anywhere.
    total = vocab.agg(F.sum("wt").alias("total"))
    cum = global_running_sums(global_sort_ranks(vocab, ["t"]), ["t"], ["wt"])
    prev = cum.select((F.col("rn") + 1).alias("rn"), F.col("cum_wt").alias("lo"))
    cum = (
        cum.join(prev, "rn", "left")
        .select(
            "t",
            F.coalesce("lo", F.lit(0.0)).alias("lo"),
            F.col("cum_wt").alias("hi"),
        )
        .crossJoin(total)
    )
    slots = spark.range(NEG_SAMPLES_PER_DOC).select(F.col("id").alias("slot"))
    draws = (
        tok.select("doc_id")
        .distinct()
        .join(slots)
        .select(
            "doc_id", "slot",
            (
                ((F.col("doc_id") * 7919 + F.col("slot")) * 48271 % 1000000)
                / F.lit(1000000.0)
            ).alias("u"),
        )
    )
    return (
        draws.join(
            F.broadcast(cum),
            (F.col("u") * F.col("total") >= F.col("lo"))
            & (F.col("u") * F.col("total") < F.col("hi")),
        )
        .select("doc_id", "slot", F.col("t").alias("negative"))
        .orderBy("doc_id", "slot")
    )


KN_DISCOUNT = 0.75


@query(
    "q_perplexity_kneser_ney",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), big AS (
      SELECT doc_id,
             unnest([{{prev: w[i], cur: w[i+1]}}
                     for i in range(1, len(w))], recursive := true)
      FROM tok WHERE len(w) >= 2
    ), bi AS (
      SELECT prev, cur, CAST(count(*) AS DOUBLE) AS nb
      FROM big WHERE doc_id % 10 = 0 GROUP BY prev, cur
    ), ctx AS (
      SELECT prev, sum(nb) AS cv, CAST(count(*) AS DOUBLE) AS nfollow
      FROM bi GROUP BY prev
    ), contw AS (
      SELECT cur, CAST(count(*) AS DOUBLE) AS nprec FROM bi GROUP BY cur
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS ntypes,
             (SELECT CAST(count(DISTINCT tok) AS DOUBLE) FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS tok
                FROM documents WHERE doc_id % 10 = 0)) AS vv
      FROM bi
    ), scored AS (
      SELECT t.doc_id,
             -ln(CASE WHEN c.prev IS NOT NULL THEN
                   greatest(coalesce(b.nb, 0) - {KN_DISCOUNT}, 0) / c.cv
                   + {KN_DISCOUNT} * c.nfollow / c.cv
                     * coalesce(w.nprec / m.ntypes, 1.0 / (m.ntypes + m.vv))
                 ELSE coalesce(w.nprec / m.ntypes, 1.0 / (m.ntypes + m.vv))
                 END) AS nll
      FROM big t
      CROSS JOIN stats m
      LEFT JOIN ctx c ON c.prev = t.prev
      LEFT JOIN bi b ON b.prev = t.prev AND b.cur = t.cur
      LEFT JOIN contw w ON w.cur = t.cur
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 5) AS avg_nll,
           round(exp(avg(nll)), 3) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def q_perplexity_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    the smoothing KenLM implements and every serious LM quality
    filter uses): absolute discount D=0.75 on bigram counts, mass
    redistributed through the CONTINUATION probability (how many
    distinct contexts a word follows — 'francisco' is frequent but
    follows only 'san', so its continuation weight is tiny). Unseen
    contexts back off to the continuation distribution; unseen words
    floor at 1/(types + vocab). Trained on the deterministic 1-in-10
    sample, scored over every document — the third rung of the
    q_perplexity_unigram → _bigram → KN ladder.

    Scale: the model is three count tables DERIVED FROM the sampled
    bigram table (context totals, continuation counts — each one
    keyed agg on the vocab-bounded model, not the corpus); scoring is
    the same explode + left model joins + per-doc rollup as its
    siblings — model broadcast here, keyed joins on an open
    vocabulary."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(
        docs.select("doc_id", "text"), w=tokens(F.col("text"))
    ).filter(F.size("w") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("prev"),
                    F.element_at("w", i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    bi = (
        big.filter(F.col("doc_id") % 10 == 0)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    ctx = bi.groupBy(F.col("prev").alias("c_prev")).agg(
        F.sum("nb").alias("cv"),
        F.count(F.lit(1)).cast("double").alias("nfollow"),
    )
    contw = bi.groupBy(F.col("cur").alias("w_cur")).agg(
        F.count(F.lit(1)).cast("double").alias("nprec")
    )
    stats = bi.agg(F.count(F.lit(1)).cast("double").alias("ntypes")).crossJoin(
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("vv"))
    )
    D = F.lit(KN_DISCOUNT)
    pc = F.coalesce(
        F.col("nprec") / F.col("ntypes"),
        F.lit(1.0) / (F.col("ntypes") + F.col("vv")),
    )
    p = F.when(
        F.col("c_prev").isNotNull(),
        F.greatest(F.coalesce(F.col("nb"), F.lit(0.0)) - D, F.lit(0.0)) / F.col("cv")
        + D * F.col("nfollow") / F.col("cv") * pc,
    ).otherwise(pc)
    bia = bi.select(
        F.col("prev").alias("b_prev"), F.col("cur").alias("b_cur"), "nb"
    )
    scored = (
        big.join(ctx, F.col("prev") == F.col("c_prev"), "left")
        .join(
            bia,
            (F.col("prev") == F.col("b_prev")) & (F.col("cur") == F.col("b_cur")),
            "left",
        )
        .join(contw, F.col("cur") == F.col("w_cur"), "left")
        .join(stats)
        .select("doc_id", (-F.log(p)).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        rnd(F.avg("nll"), 5).alias("avg_nll"),
        rnd(F.exp(F.avg("nll")), 3).alias("ppl"),
    )


MRR_QUERY_MOD = 97  # every 97th doc donates its opening trigram as a query


@query(
    "q_retrieval_mrr",
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), terms AS (
      SELECT doc_id AS query_doc, unnest(w[1:3]) AS tok
      FROM tokd WHERE doc_id % {MRR_QUERY_MOD} = 0 AND len(w) >= 3
    ), tok AS (
      SELECT doc_id, unnest(w) AS tok FROM tokd
    ), dl AS (
      SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM tokd
    ), stats AS (
      SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE tok IN (SELECT DISTINCT tok FROM terms)
      GROUP BY doc_id, tok
    ), dfr AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT t.query_doc, f.doc_id,
             list_reduce(
               list_sort(list(
                 ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * f.tf * (1.2 + 1)
                 / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
               )),
               (a, b) -> a + b
             ) AS score
      FROM tf f
      JOIN dfr d USING (tok)
      JOIN terms t ON t.tok = f.tok
      JOIN dl l ON l.doc_id = f.doc_id
      CROSS JOIN stats s
      GROUP BY t.query_doc, f.doc_id
    ), ranked AS (
      SELECT query_doc, doc_id,
             row_number() OVER (PARTITION BY query_doc
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored
    ), hits AS (
      SELECT query_doc, rk AS source_rank FROM ranked
      WHERE doc_id = query_doc
    )
    SELECT query_doc, CAST(source_rank AS BIGINT) AS source_rank,
           round(1.0 / source_rank, 6) AS rr,
           round((SELECT avg(1.0 / source_rank) FROM hits), 6) AS mrr
    FROM hits ORDER BY query_doc
    """,
)
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referential retrieval evaluation (mean reciprocal rank):
    every 97th document donates its opening trigram as a query; BM25
    ranks the corpus for each query, and the rank of the DONOR
    document is the relevance signal (a healthy index ranks the
    source at or near 1 — synthetic relevance without human labels,
    the standard smoke eval for a lexical index). Emits per-query
    source rank + reciprocal rank and the corpus MRR.

    Scale: identical cost shape to q_bm25_topk — the token stream is
    filtered to the query-term vocabulary BEFORE any shuffle, df and
    corpus stats broadcast, and per-query ranking shuffles only the
    scored candidates. The query set is sampled (1/97), so the terms
    table stays broadcastable at any corpus size."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tokd = materialize(docs.select("doc_id", "text"), w=tokens(F.col("text")))
    terms = (
        tokd.filter((F.col("doc_id") % MRR_QUERY_MOD == 0) & (F.size("w") >= 3))
        .select(
            F.col("doc_id").alias("query_doc"),
            F.explode(F.slice("w", 1, 3)).alias("tok"),
        )
    )
    toks = tokd.select(
        "doc_id", F.size("w").cast("double").alias("dl"), F.explode("w").alias("tok")
    )
    tf = (
        toks.join(
            terms.select("tok").distinct(), "tok", "left_semi"
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfr = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = tokd.select(F.size("w").cast("double").alias("dl")).agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n")
    )
    term_score = (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * F.col("tf") * (1.2 + 1)
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    # Sorted-fold, not sum(): the <=3 per-term contributions are
    # collected, sorted, and folded left-to-right, so the score double
    # is identical under any partial-agg merge order (and matches the
    # oracle's list_reduce-over-list_sort bit for bit). A bare float
    # sum made tied docs rank-shuffle across runs (selfcheck --perturb
    # red in r9).
    scored = (
        tf.join(F.broadcast(dfr), "tok")
        .join(terms, "tok")
        .join(stats)
        .groupBy("query_doc", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(term_score)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score")
        )
    )
    from pyspark.sql import Window as W

    rw = W.partitionBy("query_doc").orderBy(F.col("score").desc(), "doc_id")
    hits = (
        scored.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("doc_id") == F.col("query_doc"))
        .select("query_doc", F.col("rk").cast("bigint").alias("source_rank"))
    )
    mrr = hits.agg(F.avg(F.lit(1.0) / F.col("source_rank")).alias("m"))
    return (
        hits.join(mrr)
        .select(
            "query_doc", "source_rank",
            rnd(F.lit(1.0) / F.col("source_rank"), 6).alias("rr"),
            rnd(F.col("m"), 6).alias("mrr"),
        )
        .orderBy("query_doc")
    )


@query(
    "q_term_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ), stats AS (
      SELECT t,
             CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY t
    )
    SELECT t AS term, cf, df,
           round(cf / CAST(df AS DOUBLE), 6) AS burstiness
    FROM stats WHERE cf >= 5
    ORDER BY burstiness DESC, term
    LIMIT 20
    """,
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): collection frequency over
    document frequency — the mean occurrences per CONTAINING document.
    Function words score near cf/df ~ constant; a term that appears
    many times in few documents is bursty, the lexical signature of
    keyword stuffing, spam and boilerplate that per-doc repetition
    ratios miss when the stuffing spans few docs.

    Scale: one explode feeding a single keyed agg (count + distinct
    doc count per term, map-side combining); output pruned to the
    min-cf vocabulary and top-20 via TakeOrderedAndProject."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    stats = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    return (
        stats.filter(F.col("cf") >= 5)
        .select(
            F.col("t").alias("term"), "cf", "df",
            rnd(F.col("cf") / F.col("df").cast("double"), 6).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "term")
        .limit(20)
    )


@query(
    "q_dataset_card",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source,
             string_split(lower(text), ' ') AS w,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(w)) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(1 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6)
               AS exact_dup_rate,
           round(avg(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)), 6)
               AS mean_distinct_ratio,
           round(avg(CAST(len(w) AS DOUBLE)), 4) AS mean_doc_tokens
    FROM base
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary (the one-row fact sheet a corpus release
    ships with): volume (docs, tokens), coverage (languages, sources),
    exact-duplicate rate (via normalized-text fingerprints — the
    headline hygiene number), and quality centrals (mean distinct
    ratio, mean length). One row a release pipeline can diff across
    versions and gate on.

    Scale: ONE aggregation pass over the corpus — every statistic is
    either a plain agg or a distinct-count (exchange-partial
    distinct); at 100 TB the distinct fingerprint/lang/source counts
    swap to approx_count_distinct with a documented error bound, and
    nothing else changes."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    base = docs.select(
        "doc_id", "lang", "source",
        F.size(w).cast("bigint").alias("nw"),
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("dr"),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    return base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        rnd(
            1 - F.countDistinct("fp") / F.count(F.lit(1)).cast("double"), 6
        ).alias("exact_dup_rate"),
        rnd(F.avg("dr"), 6).alias("mean_distinct_ratio"),
        rnd(F.avg(F.col("nw").cast("double")), 4).alias("mean_doc_tokens"),
    )


ZIPF_FMIN = 5


@query(
    "q_zipf_alpha",
    oracle=f"""
    WITH freq AS (
      SELECT t, CAST(count(*) AS DOUBLE) AS f FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
      ) GROUP BY t
    ), tail AS (
      SELECT f FROM freq WHERE f >= {ZIPF_FMIN}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tail_terms,
           CAST((SELECT count(*) FROM freq) AS BIGINT) AS n_vocab,
           round(1 + count(*) / sum(ln(f / ({ZIPF_FMIN} - 0.5))), 6)
               AS alpha_mle,
           round(1.0 / sqrt(count(*))
                 * (1 + count(*) / sum(ln(f / ({ZIPF_FMIN} - 0.5))) - 1), 6)
               AS alpha_se
    FROM tail
    """,
)
def q_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Zipf) exponent of the token frequency distribution
    via the discrete MLE of Clauset, Shalizi & Newman (2009):
    alpha = 1 + n / sum(ln(f_i / (f_min - 0.5))) over the tail
    f >= f_min, with the standard error (alpha - 1)/sqrt(n). Natural
    language sits near alpha ~ 2; a corpus whose exponent drifts is
    contaminated (template spam flattens the tail, dedup failures
    steepen it) — a one-row distributional health check next to
    q_vocab_heavy_hitters.

    Scale: one explode + one keyed vocab agg; the MLE is a plain
    aggregate over the vocabulary-sized tail. Corpus read once."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    nv = freq.agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"))
    tail = freq.filter(F.col("f") >= ZIPF_FMIN)
    alpha = 1 + F.count(F.lit(1)) / F.sum(
        F.log(F.col("f") / (ZIPF_FMIN - 0.5))
    )
    return (
        tail.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail_terms"),
            rnd(alpha, 6).alias("alpha_mle"),
            rnd(
                (alpha - 1) / F.sqrt(F.count(F.lit(1))),
                6,
            ).alias("alpha_se"),
        )
        .join(nv)
        .select("n_tail_terms", "n_vocab", "alpha_mle", "alpha_se")
    )


@query(
    "q_js_divergence_sources",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ), sc AS (
      SELECT source, t, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2
    ), st AS (
      SELECT source, sum(c) AS n FROM sc GROUP BY 1
    ), corp AS (
      SELECT t, CAST(sum(c) AS DOUBLE) AS cc FROM sc GROUP BY 1
    ), ct AS (
      SELECT CAST(sum(cc) AS DOUBLE) AS nc FROM corp
    ), terms AS (
      SELECT s.source, p.t,
             coalesce(sc.c, 0) / st.n AS p,
             p.cc / ct.nc AS q
      FROM (SELECT DISTINCT source FROM sc) s
      CROSS JOIN corp p
      CROSS JOIN ct
      JOIN st ON st.source = s.source
      LEFT JOIN sc ON sc.source = s.source AND sc.t = p.t
    ), js AS (
      SELECT source,
             sum(0.5 * CASE WHEN p > 0
                            THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                 + 0.5 * q * ln(q / ((p + q) / 2))) AS jsd
      FROM terms GROUP BY source
    )
    SELECT source, round(jsd, 6) AS js_divergence,
           CAST(row_number() OVER (ORDER BY jsd DESC, source) AS BIGINT)
               AS drift_rank
    FROM js ORDER BY drift_rank
    """,
)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution shift: Jensen-Shannon divergence
    between each source's token distribution and the corpus-wide one,
    ranked — the diagnostic that surfaces which source is lexically
    anomalous BEFORE it skews a trained model (JS is symmetric,
    bounded by ln 2, and defined even where a source is missing
    vocabulary, unlike raw KL). Complements q_embedding_drift (vector
    space) and q_bias_mi (metadata) on the token axis.

    Scale: per-(source, token) counts are one keyed agg; the JS terms
    live on the (sources x vocab) grid — vocab-bounded, never
    corpus-sized — with the corpus distribution broadcast. At web
    scale the vocab truncates to top-K + an OOV bucket, changing only
    the grid width."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    sc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    corp = sc.groupBy("t").agg(F.sum("c").alias("cc"))
    ct = corp.agg(F.sum("cc").alias("nc"))
    grid = (
        sc.select("source").distinct()
        .crossJoin(F.broadcast(corp))
        .crossJoin(F.broadcast(ct))
        .join(F.broadcast(st), "source")
        .join(sc, ["source", "t"], "left")
    )
    p = F.coalesce(F.col("c"), F.lit(0.0)) / F.col("n")
    q = F.col("cc") / F.col("nc")
    m = (p + q) / 2
    term = 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(0.0) + 0.5 * q * F.log(
        q / m
    )
    js = grid.groupBy("source").agg(F.sum(term).alias("jsd"))
    from pyspark.sql import Window as W

    return js.select(
        "source",
        rnd("jsd", 6).alias("js_divergence"),
        F.row_number()
        .over(W.orderBy(F.col("jsd").desc(), "source"))
        .cast("bigint")
        .alias("drift_rank"),
    ).orderBy("drift_rank")


_COVERAGE_KS = (10, 20, 30)


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH freq AS (
      SELECT t, CAST(count(*) AS DOUBLE) AS f FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
      ) GROUP BY t
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rk,
             sum(f) OVER () AS total
      FROM freq
    ), cum AS (
      SELECT rk, total,
             sum(f) OVER (ORDER BY rk) AS cum_f
      FROM ranked
    )
    SELECT CAST(k AS BIGINT) AS top_k,
           round(max(CASE WHEN rk <= k THEN cum_f END) / max(total), 6)
               AS token_coverage
    FROM cum, (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k)
    GROUP BY k ORDER BY top_k
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all token
    occurrences covered by the top-K most frequent types, for K = 10,
    20, 30 — the sizing curve every tokenizer vocabulary decision
    reads (where coverage flattens is where added vocab stops paying
    for its embedding rows; the complement of the curve is the OOV
    rate a K-sized vocab would eat).

    Scale: one explode + one vocab-keyed agg; the DESC frequency rank
    comes from global_sort_ranks on a pre-negated key (range-partition
    + local rank + broadcast offsets — NO partition-less window even
    over the vocab table), the grand total is a 1-row broadcast
    aggregate, and the cumulative sum only ever matters for the top
    max(K) rows — a CONSTANT-bounded head — so it is a triangular
    broadcast self-join of that head, exact because the f values are
    integer-valued doubles (any summation order is bit-identical
    below 2^53)."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    total = freq.agg(F.sum("f").alias("total"))
    top = (
        global_sort_ranks(freq.withColumn("_negf", -F.col("f")), ["_negf", "t"])
        .withColumnRenamed("rn", "rk")
        .filter(F.col("rk") <= max(_COVERAGE_KS))
        .select("rk", "f")
    )
    cum = (
        top.alias("a")
        .join(F.broadcast(top.alias("b")), F.col("b.rk") <= F.col("a.rk"))
        .groupBy(F.col("a.rk").alias("rk"))
        .agg(F.sum("b.f").alias("cum_f"))
    )
    ks = local_df(spark, [(k,) for k in _COVERAGE_KS], "k bigint")
    return (
        cum.crossJoin(total)
        .join(ks)
        .groupBy("k")
        .agg(
            rnd(
                F.max(F.when(F.col("rk") <= F.col("k"), F.col("cum_f")))
                / F.max("total"),
                6,
            ).alias("token_coverage")
        )
        .select(F.col("k").cast("bigint").alias("top_k"), "token_coverage")
        .orderBy("top_k")
    )


# --------------------------------------------------------------------------
# Graded retrieval evaluation: NDCG@5 (r9). MRR (q_retrieval_mrr)
# sees one binary hit; NDCG grades every retrieved doc and discounts
# by rank — the metric that actually orders two indexes that both
# "find" the source. Synthetic graded relevance without labels: a
# doc's grade for a query = how many of the query's terms it
# contains (0..3), computable identically in both engines.
# --------------------------------------------------------------------------
_NDCG_K = 5


@query(
    "q_retrieval_ndcg",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl
    ), terms(query_id, tok) AS (
      VALUES {", ".join(f"('{qid}', '{t}')" for qid, ts in _BM25_QUERIES for t in ts)}
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE tok IN (SELECT tok FROM terms)
      GROUP BY doc_id, tok
    ), dfr AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT t.query_id, f.doc_id,
             list_reduce(
               list_sort(list(
                 ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * f.tf * ({_BM25_K1} + 1)
                 / (f.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               )),
               (a, b) -> a + b
             ) AS score
      FROM tf f
      JOIN dfr d USING (tok)
      JOIN terms t ON t.tok = f.tok
      JOIN dl l ON l.doc_id = f.doc_id
      CROSS JOIN stats s
      GROUP BY t.query_id, f.doc_id
    ), grades AS (
      SELECT t.query_id, f.doc_id,
             CAST(count(DISTINCT f.tok) AS DOUBLE) AS grade
      FROM tf f JOIN terms t ON t.tok = f.tok
      GROUP BY t.query_id, f.doc_id
    ), retrieved AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored QUALIFY rk <= {_NDCG_K}
    ), dcg AS (
      SELECT r.query_id,
             sum(coalesce(g.grade, 0) / log2(r.rk + 1)) AS dcg
      FROM retrieved r LEFT JOIN grades g
        ON g.query_id = r.query_id AND g.doc_id = r.doc_id
      GROUP BY r.query_id
    ), ideal AS (
      SELECT query_id,
             sum(grade / log2(irk + 1)) AS idcg
      FROM (
        SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id) AS irk
        FROM grades QUALIFY irk <= {_NDCG_K}
      ) GROUP BY query_id
    )
    SELECT d.query_id,
           round(d.dcg, 6) AS dcg,
           round(i.idcg, 6) AS idcg,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN ideal i USING (query_id)
    ORDER BY d.query_id
    """,
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 for the BM25 panel queries with synthetic graded
    relevance (grade = #distinct query terms the doc contains): DCG
    discounts each retrieved grade by log2(rank+1); IDCG re-ranks the
    corpus's best grades ideally; their ratio is the [0,1] ranking
    quality. Equal grades contribute equally whatever their
    within-tie order, so the tie-broken ideal ranking is
    deterministic across engines.

    Scale: reuses bm25_scored's shape (token stream filtered to
    query vocabulary before any shuffle); grades are a (query, doc)
    keyed agg over that same filtered stream; DCG/IDCG windows
    partition by query over candidate-sized tables."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window as W

    scored = bm25_scored(spark, docs)
    all_terms = [t for _, ts in _BM25_QUERIES for t in ts]
    terms = local_df(
        spark,
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts],
        "query_id string, tok string",
    )
    doc_terms = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(all_terms))
        .distinct()
    )
    grades = (
        doc_terms.join(terms, "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("tok").cast("double").alias("grade"))
    )
    rw = W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    retrieved = (
        scored.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= _NDCG_K)
        .select("query_id", "doc_id", "rk")
    )
    dcg = (
        retrieved.join(grades, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("grade"), F.lit(0.0))
                / F.log2(F.col("rk") + 1)
            ).alias("dcg")
        )
    )
    iw = W.partitionBy("query_id").orderBy(F.col("grade").desc(), "doc_id")
    ideal = (
        grades.withColumn("irk", F.row_number().over(iw))
        .filter(F.col("irk") <= _NDCG_K)
        .groupBy("query_id")
        .agg(F.sum(F.col("grade") / F.log2(F.col("irk") + 1)).alias("idcg"))
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            rnd("dcg", 6).alias("dcg"),
            rnd("idcg", 6).alias("idcg"),
            rnd(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer: Viterbi segmentation (SentencePiece counterpart
# to the BPE trainer above) — r13 addition
# ---------------------------------------------------------------------------

_UNI_MAXLEN = 12  # explicit word-length cap: bounds the DP unroll
_UNI_MAXPIECE = 4  # max candidate piece length
_UNI_TOPMULTI = 30  # multi-char pieces kept in the vocabulary


def _unigram_viterbi_oracle_sql() -> str:
    """Chained-CTE DP (the house pattern for iterative oracles —
    DuckDB recursive CTEs cannot hold per-key argmax state): d{i}
    carries the best milli-log score and the min piece count at that
    score for every word prefix of length i."""
    parts = [
        f"""
    WITH w AS MATERIALIZED (
      SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
            FROM documents)
      WHERE t <> '' AND length(t) <= {_UNI_MAXLEN}
      GROUP BY t
    ),
    sub AS MATERIALIZED (
      SELECT substr(word, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM w, range(1, {_UNI_MAXLEN + 1}) r(i),
           range(1, {_UNI_MAXPIECE + 1}) q(l)
      WHERE i + l - 1 <= length(word)
      GROUP BY piece
    ),
    picked AS MATERIALIZED (
      SELECT piece, cnt FROM sub WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM sub WHERE length(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {_UNI_TOPMULTI})
    ),
    vocab AS MATERIALIZED (
      SELECT piece,
             CAST(round(ln(CAST(cnt AS DOUBLE) /
                  (SELECT CAST(sum(cnt) AS DOUBLE) FROM picked)) * 1000, 0)
                  AS BIGINT) AS lp
      FROM picked
    ),
    d0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS sc,
                  CAST(0 AS BIGINT) AS np FROM w)"""
    ]
    for i in range(1, _UNI_MAXLEN + 1):
        js = [j for j in range(max(0, i - _UNI_MAXPIECE), i)]
        joins, cands, nps = [], [], []
        for j in js:
            joins.append(f"LEFT JOIN d{j} a{j} ON a{j}.word = w.word")
            joins.append(
                f"LEFT JOIN vocab v{j} "
                f"ON v{j}.piece = substr(w.word, {j + 1}, {i - j})"
            )
            cands.append(f"(a{j}.sc + v{j}.lp)")
        best = f"greatest({', '.join(cands)})"
        for j, c in zip(js, cands):
            nps.append(f"CASE WHEN {c} = {best} THEN a{j}.np + 1 END")
        parts.append(
            f""", d{i} AS MATERIALIZED (
      SELECT w.word, w.freq, {best} AS sc,
             least({', '.join(nps)}) AS np
      FROM w {' '.join(joins)}
      WHERE length(w.word) >= {i}
    )"""
        )
    finals = "\n      UNION ALL\n".join(
        f"      SELECT word, freq, sc, np FROM d{i} WHERE length(word) = {i}"
        for i in range(1, _UNI_MAXLEN + 1)
    )
    return (
        "".join(parts)
        + f""", best AS (
{finals}
    )
    SELECT word, freq, np AS n_pieces, sc AS score_milli,
           round(CAST(length(word) AS DOUBLE) / np, 4) AS avg_piece_len
    FROM best
    ORDER BY freq DESC, word LIMIT 20"""
    )


UNIGRAM_DP_EXPR = f"""aggregate(
      sequence(1, length(word)),
      named_struct('sc', array(CAST(0 AS BIGINT)),
                   'np', array(CAST(0 AS BIGINT))),
      (acc, i) -> named_struct(
        'sc', concat(acc.sc, array(
          array_max(transform(
            sequence(greatest(1, i - {_UNI_MAXPIECE - 1}), i),
            j -> element_at(acc.sc, j) +
                 element_at(vmap, substring(word, j, i - j + 1)))))),
        'np', concat(acc.np, array(
          array_min(transform(
            sequence(greatest(1, i - {_UNI_MAXPIECE - 1}), i),
            j -> IF(element_at(acc.sc, j) +
                    element_at(vmap, substring(word, j, i - j + 1)) =
                    array_max(transform(
                      sequence(greatest(1, i - {_UNI_MAXPIECE - 1}), i),
                      k -> element_at(acc.sc, k) +
                           element_at(vmap, substring(word, k, i - k + 1)))),
                    element_at(acc.np, j) + CAST(1 AS BIGINT),
                    CAST(NULL AS BIGINT))))))),
      acc -> named_struct('sc', element_at(acc.sc, -1),
                          'np', element_at(acc.np, -1)))"""


@query("q_unigram_lm_viterbi", oracle=_unigram_viterbi_oracle_sql())
def q_unigram_lm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer segmentation (Kudo 2018, the SentencePiece
    default — the other industry-standard subword algorithm next to
    the BPE trainer above): build a piece vocabulary (every single
    character + the top-30 multi-char substrings of length 2-4 by
    corpus-weighted occurrence count), assign each piece an INTEGER
    milli-log probability round(ln(cnt/total)*1000), and Viterbi-
    segment each distinct word — maximize the summed piece log-prob;
    of the maximizing segmentations, report the minimum piece count.
    Both DP objectives (max score, min pieces at max) are scalars, so
    the result never depends on an arbitrary argmax PATH tiebreak, and
    all DP arithmetic is exact BIGINT (the q_record_linkage_fs
    milli-integer lesson), so no cross-engine float summation-order
    drift can flip a comparison.

    Distributed shape: the corpus is touched exactly once (the word
    frequency count); everything after runs on the DISTINCT-WORD table
    — the same vocabulary-cache trick as q_bpe_encode, which is what
    makes tokenizer training on a 100 TB corpus a vocabulary-sized
    job. Substring counting explodes the word table map-side (one
    keyed sum), the <= ~60-piece vocabulary folds into ONE broadcast
    map row, and the Viterbi DP is a per-row JVM fold
    (aggregate over word positions, array-struct state) — no shuffle,
    no Python, no per-word iteration on the driver. Words longer than
    12 chars are excluded by an explicit documented cap (none exist in
    the fixture at any SF; at scale the cap bounds DP state exactly
    like SentencePiece's max_sentencepiece_length)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "") & (F.length("word") <= _UNI_MAXLEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        # One corpus pass total: every later stage is vocabulary-sized,
        # so freeze the word table instead of re-deriving it per
        # consumer (sub / total / the DP input).
        .localCheckpoint(eager=True)
    )
    sub = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, length(word)),
                        i -> transform(
                          sequence(0, least({_UNI_MAXPIECE - 1},
                                            length(word) - i)),
                          l -> substring(word, i, l + 1))))"""
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    chars = sub.filter(F.length("piece") == 1)
    multi = (
        sub.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(_UNI_TOPMULTI)
    )
    picked = chars.unionAll(multi)
    total = picked.agg(F.sum("cnt").cast("double").alias("tot"))
    vocab = picked.crossJoin(total).select(
        "piece",
        rnd(F.log(F.col("cnt") / F.col("tot")) * 1000, 0)
        .cast("bigint")
        .alias("lp"),
    )
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "lp"))
        ).alias("vmap")
    )
    dp_expr = UNIGRAM_DP_EXPR
    return (
        words.crossJoin(vmap)
        .withColumn("dp", F.expr(dp_expr))
        .select(
            "word",
            "freq",
            F.col("dp.np").alias("n_pieces"),
            F.col("dp.sc").alias("score_milli"),
            rnd(
                F.length("word").cast("double") / F.col("dp.np"), 4
            ).alias("avg_piece_len"),
        )
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


@query(
    "q_kneser_ney_bigram",
    oracle="""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)
    ), cb AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS fwd_types
      FROM cb GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS cont_types
      FROM cb GROUP BY w2
    ), btypes AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM cb
    ), scored AS (
      SELECT cb.w1, cb.w2, cb.c,
             (cb.c - 0.75) / ctx.c1
               + 0.75 * ctx.fwd_types / ctx.c1
                 * cont.cont_types / CAST(b.n_bigram_types AS DOUBLE)
               AS p_kn,
             0.75 * ctx.fwd_types / CAST(ctx.c1 AS DOUBLE) AS lambda_w1,
             cont.cont_types / CAST(b.n_bigram_types AS DOUBLE) AS p_cont
      FROM cb
      JOIN ctx USING (w1)
      JOIN cont USING (w2)
      CROSS JOIN btypes b
    )
    SELECT w1, w2, c AS pair_count,
           round(p_kn, 6) AS p_kn,
           round(lambda_w1, 6) AS lambda_w1,
           round(p_cont, 6) AS p_cont
    FROM (
      SELECT *, row_number() OVER (ORDER BY c DESC, w1, w2) AS rk
      FROM scored
    ) WHERE rk <= 20
    ORDER BY pair_count DESC, w1, w2
    """,
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999's interpolated form with a fixed
    absolute discount D = 0.75) for the corpus's 20 most frequent
    bigrams: P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1) + lambda(w1) *
    P_cont(w2), where the continuation probability P_cont counts the
    DISTINCT left contexts of w2 rather than its raw frequency — the
    smoothing that made n-gram LMs competitive and still the baseline
    cross-entropy reference when grading corpus quality against a
    neural LM. The companion to q_perplexity_bigram's MLE estimates.

    Scale: one corpus pass builds the bigram count table; context
    totals, fertility (distinct successors), and continuation counts
    (distinct predecessors) are three vocab-bounded aggs OVER that
    table, not the corpus; the scoring join composes broadcast-sized
    count tables and the top-k is rank-bounded with a deterministic
    tiebreak. Every quantity is exact integer arithmetic until the
    final divisions."""
    # size >= 2 guard: Spark's sequence(1, n) with n < 1 yields a
    # DESCENDING [1, 0] (not DuckDB range's empty array), so a 1-token
    # document would emit null-keyed "bigrams" on the Spark side only.
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    cb = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    ctx = cb.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("fwd_types"),
    )
    cont = cb.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_types")
    )
    btypes = cb.agg(F.count(F.lit(1)).cast("bigint").alias("n_bigram_types"))
    lam = F.lit(0.75) * F.col("fwd_types") / F.col("c1").cast("double")
    p_cont = F.col("cont_types") / F.col("n_bigram_types").cast("double")
    p_kn = (F.col("c") - F.lit(0.75)) / F.col("c1") + lam * p_cont
    return (
        cb.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(btypes)
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            rnd(p_kn, 6).alias("p_kn"),
            rnd(lam, 6).alias("lambda_w1"),
            rnd(p_cont, 6).alias("p_cont"),
        )
        .orderBy(F.col("pair_count").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction (r15, Rose et al. 2010, "Automatic Keyword
# Extraction from Individual Documents"). Candidate phrases are maximal
# stopword-free token runs; each content word scores degree/frequency
# where degree counts co-occurring words (phrase length) summed over
# the word's phrase occurrences; a phrase scores the sum of its words.
# --------------------------------------------------------------------------
_RAKE_TOP = 20


@query(
    "q_rake_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), pos AS (
      SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM tok
    ), word AS (
      SELECT doc_id, i, w[i] AS t,
             w[i] IN ('the', 'a', 'of', 'to', 'and') AS is_stop
      FROM pos
    ), content AS (
      SELECT doc_id, i, t,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM word WHERE NOT is_stop
    ), phrase AS (
      SELECT doc_id, grp,
             array_to_string(list(t ORDER BY i), ' ') AS p,
             count(*) AS plen
      FROM content GROUP BY doc_id, grp
    ), wstat AS (
      SELECT t,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM content c JOIN phrase ph
        ON c.doc_id = ph.doc_id AND c.grp = ph.grp
      GROUP BY t
    ), pscore AS (
      SELECT ph.p,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             sum(ws.degree / CAST(ws.freq AS DOUBLE)) AS raw
      FROM phrase ph
      JOIN content c ON c.doc_id = ph.doc_id AND c.grp = ph.grp
      JOIN wstat ws ON ws.t = c.t
      GROUP BY ph.p
    )
    SELECT p AS phrase,
           CAST(n_occurrences / len(string_split(p, ' ')) AS BIGINT)
               AS n_occurrences,
           round(raw / n_occurrences * len(string_split(p, ' ')), 4)
               AS rake_score
    FROM pscore
    ORDER BY round(raw / n_occurrences * len(string_split(p, ' ')), 4)
        DESC, p
    LIMIT {_RAKE_TOP}
    """,
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): corpus top-
    {_RAKE_TOP} candidate phrases by the degree/frequency word score.
    Phrases are maximal stopword-free runs (gaps-and-islands over
    content-token positions); word degree sums the lengths of every
    phrase occurrence containing the word, word frequency counts its
    content occurrences, and a phrase scores the sum of its member
    words' degree/freq ratios. The complement to q_textrank_keywords
    (graph centrality) and q_collocation_pmi (pointwise MI): RAKE is
    the O(tokens) heuristic production pipelines run first.

    Scale: content-token explode is O(total tokens); the phrase
    window partitions by doc_id (document-bounded rows). Word stats
    are a vocab-keyed agg with map-side combine; the phrase-word
    re-join is on (doc_id, grp) — phrase-list-sized, never pairwise —
    and wstat joins broadcast (vocabulary-bounded). Final top-k is
    TakeOrderedAndProject on the distinct-phrase table. Ranking uses
    rnd(score, 4) with the phrase string as tiebreak on BOTH engines
    (the r13 float-rank rule)."""
    from pyspark.sql import Window

    docs = widen(load_table(spark, sf_dir, "documents"))
    word = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("i0", "t"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "t",
        F.col("t").isin(STOP_EN).alias("is_stop"),
    )
    content = (
        word.filter(~F.col("is_stop"))
        .withColumn(
            "grp",
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            ),
        )
        .localCheckpoint(eager=True)
    )  # pinned: read by the phrase agg AND both re-joins below
    phrase = content.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "t"))),
                lambda s: s.t,
            ),
            " ",
        ).alias("p"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = (
        content.join(phrase, ["doc_id", "grp"])
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
    )
    pscore = (
        phrase.join(content, ["doc_id", "grp"])
        .join(wstat, "t")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words_x_occ"),
            F.sum(
                F.col("degree") / F.col("freq").cast("double")
            ).alias("raw"),
        )
    )
    plen = F.size(F.split(F.col("p"), " "))
    score = rnd(F.col("raw") / F.col("n_words_x_occ") * plen, 4)
    return (
        pscore.select(
            F.col("p").alias("phrase"),
            (F.col("n_words_x_occ") / plen).cast("bigint").alias(
                "n_occurrences"
            ),
            score.alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(_RAKE_TOP)
    )


# --------------------------------------------------------------------------
# Nucleus (top-p) vocabulary mass per language (r15). Sampling-side
# teams ask "how many vocabulary types cover p of the token mass?" —
# the concentration audit behind top-p/nucleus truncation (Holtzman et
# al., ICLR 2020) and behind vocab-size decisions for new tokenizers:
# a language whose 0.99-nucleus is 40 types is template noise; one
# whose 0.5-nucleus is half the vocabulary is high-entropy content.
# Complements q_zipf_fit (parametric fit) and q_token_entropy (a
# single scalar) with the actual mass-coverage curve at pinned p.
# --------------------------------------------------------------------------
_NUCLEUS_PS = (0.5, 0.9, 0.99)


@query(
    "q_nucleus_vocab_mass",
    oracle="""
    WITH tk AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), c AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tk GROUP BY lang, tok
    ), w AS (
      SELECT lang, cnt,
             sum(cnt) OVER (
               PARTITION BY lang ORDER BY cnt DESC, tok
             ) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS t,
             count(*) OVER (PARTITION BY lang) AS v
      FROM c
    )
    SELECT lang, p,
           CAST(max(t) AS BIGINT) AS total_tokens,
           CAST(max(v) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN cum - cnt < p * t THEN 1 ELSE 0 END)
                AS BIGINT) AS nucleus_size,
           round(sum(CASE WHEN cum - cnt < p * t THEN 1 ELSE 0 END)
                 / CAST(max(v) AS DOUBLE), 6) AS nucleus_frac
    FROM w, (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p)
    GROUP BY lang, p
    ORDER BY lang, p
    """,
)
def q_nucleus_vocab_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language and p in {0.5, 0.9, 0.99}: the nucleus size — the
    smallest number of vocabulary types (ranked by frequency, token
    ascending on ties) whose cumulative count reaches p of the
    language's token mass — plus the total mass and vocabulary size.
    A rank r is in the p-nucleus iff the cumulative mass BEFORE r is
    still short of p*T, so the count of such ranks IS the nucleus
    size (no argmin join needed).

    Scale: one tokenize-explode pass, one (lang, token) keyed agg with
    map-side combine, then windows PARTITIONED BY lang over the
    vocab-bounded count table (a few hundred thousand rows per
    language however many tokens flowed in — same class as q_zipf_fit)
    and a 3-row broadcast p-dimension. The corpus is touched once; all
    counts exact BIGINT; one division at the end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    c = tk.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tok")
    w_all = Window.partitionBy("lang")
    w = c.select(
        "lang",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("v"),
    )
    p = F.explode(F.array(*[F.lit(x) for x in _NUCLEUS_PS])).alias("p")
    in_nucleus = F.when(
        F.col("cum") - F.col("cnt") < F.col("p") * F.col("t"), 1
    ).otherwise(0)
    return (
        w.select("lang", "cnt", "cum", "t", "v", p)
        .groupBy("lang", "p")
        .agg(
            F.max("t").cast("bigint").alias("total_tokens"),
            F.max("v").cast("bigint").alias("vocab_size"),
            F.sum(in_nucleus).cast("bigint").alias("nucleus_size"),
            rnd(
                F.sum(in_nucleus) / F.max("v").cast("double"), 6
            ).alias("nucleus_frac"),
        )
        .orderBy("lang", "p")
    )
