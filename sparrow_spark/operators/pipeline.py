"""Training-data pipeline operators beyond dedup/similarity/text:
document chunking, sequence packing, intra-document repetition
filtering, PII scrubbing, benchmark decontamination, and context-length
bucketing. Beyond-reference extensions (the reference has no corpus
surface) — each is the standard shape of the corresponding step in a
large-scale LLM data pipeline, composed from JVM-side built-ins
(split/slice/transform/explode/window/regexp) so whole-stage codegen
applies and every step scales linearly with executors.

Scale notes are per operator; none shuffles more than once and nothing
touches Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.operators.text import _text_shingles, tokens
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df, materialize, widen

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks
PACK_BUDGET = 256


@query(
    "q_doc_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sized AS (
      SELECT doc_id, w,
             greatest(1, CAST(ceil((len(w) - {CHUNK_TOKENS - CHUNK_STRIDE})
                                   / {CHUNK_STRIDE}.0) AS BIGINT)) AS n_chunks
      FROM tok
    ), idx AS (
      SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_idx FROM sized
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(w[chunk_idx * {CHUNK_STRIDE} + 1 :
                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(w[chunk_idx * {CHUNK_STRIDE} + 1 :
                                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                               ' ')) AS chunk_hash
    FROM idx
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 64-token chunks every 48 tokens (16
    overlap), the standard shape for context-window packing and RAG
    indexing. One explode per chunk — output is O(total tokens /
    stride) rows, embarrassingly parallel, no shuffle at all. The token
    array is materialize()d so the tokenizer runs once per document,
    not once per chunk (CollapseProject would inline it into the slice
    expressions)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(docs.select("doc_id", "text"), w=tokens(F.col("text")))
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("w") - F.lit(overlap)) / F.lit(float(CHUNK_STRIDE))).cast(
            "bigint"
        ),
    )
    chunked = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("w"), (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "q_sequence_packing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM tok
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % {PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: concatenate documents in stable
    doc_id order and cut training sequences every 256 tokens — the
    standard pretraining packing layout (documents straddle sequence
    boundaries; the attention mask handles joins). Packing is
    sharded per language, and the per-shard running sum uses GROUPED
    global_running_sums (range-partitioned on (lang, doc_id), local
    cumsum, broadcast per-(partition, lang) offsets): a
    Window.partitionBy(lang) would push n/|langs| documents through
    ONE task per language at 100 TB — the lang enum is fixed at 5,
    so lang partitioning alone caps parallelism at 5 tasks."""
    from sparrow_spark.operators.dedup import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    sized = docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
    cum = global_running_sums(
        sized, ["doc_id"], ["n_tokens"], reset_cols=["lang"]
    )
    start = F.col("cum_n_tokens") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        (start / PACK_BUDGET).cast("bigint").alias("seq_id"),
        (start % PACK_BUDGET).cast("bigint").alias("seq_offset"),
    )


@query(
    "q_sequence_packing_masked",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM tok
    ), spans AS (
      SELECT doc_id, lang, n_tokens,
             cum - n_tokens AS st, cum,
             unnest(range(CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT),
                          CAST((cum - 1) // {PACK_BUDGET} + 1 AS BIGINT))) AS seq_id
      FROM packed
    )
    SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(st, seq_id * {PACK_BUDGET})
                - seq_id * {PACK_BUDGET} AS BIGINT) AS span_start,
           CAST(least(cum, (seq_id + 1) * {PACK_BUDGET})
                - greatest(st, seq_id * {PACK_BUDGET}) AS BIGINT) AS span_len,
           CAST(greatest(st, seq_id * {PACK_BUDGET}) - st AS BIGINT) AS doc_offset
    FROM spans
    """,
)
def q_sequence_packing_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing WITH document-boundary attention spans: one row
    per (training sequence, document span) giving exactly which token
    range of each 256-token sequence belongs to which document — the
    mask table a dataloader needs for block-diagonal ("document-
    causal") attention, so packed neighbors can't attend across
    document joins. A document straddling sequence boundaries emits
    one span per sequence it touches, with doc_offset locating the
    span inside the document.

    Scale: identical cost to q_sequence_packing — the per-lang running
    sum is grouped global_running_sums (range-partitioned on
    (lang, doc_id), never one task per language), then the span
    explode is map-side and output is O(docs + sequences) rows (each
    doc adds at most ceil(len/budget)+1 spans). The span table is what
    ships to the trainer, so downstream never re-reads text to rebuild
    masks."""
    from sparrow_spark.operators.dedup import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    sized = docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
    laid = global_running_sums(
        sized, ["doc_id"], ["n_tokens"], reset_cols=["lang"]
    ).select(
        "doc_id",
        "lang",
        (F.col("cum_n_tokens") - F.col("n_tokens")).alias("st"),
        F.col("cum_n_tokens").alias("cum"),
    )
    b = F.lit(PACK_BUDGET)
    spans = laid.select(
        "lang",
        "doc_id",
        "st",
        "cum",
        F.explode(
            F.sequence(
                F.floor(F.col("st") / b), F.floor((F.col("cum") - 1) / b)
            )
        ).alias("seq_id"),
    )
    span_lo = F.greatest(F.col("st"), F.col("seq_id") * b)
    span_hi = F.least(F.col("cum"), (F.col("seq_id") + 1) * b)
    return spans.select(
        "lang",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "doc_id",
        (span_lo - F.col("seq_id") * b).cast("bigint").alias("span_start"),
        (span_hi - span_lo).cast("bigint").alias("span_len"),
        (span_lo - F.col("st")).cast("bigint").alias("doc_offset"),
    )


@query(
    "q_repetition_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), tri AS (
      SELECT doc_id,
             [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
              for i in range(1, len(w) - 1)] AS t
      FROM tok WHERE len(w) >= 3
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_trigrams,
           round(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 4)
               AS distinct_ratio,
           (len(list_distinct(t)) / CAST(len(t) AS DOUBLE)) < 0.55
               AS is_repetitive
    FROM tri
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring: distinct-trigram ratio — the
    cheap repetition heuristic used to drop boilerplate/spam before
    training (heavily repeated n-grams => low ratio). Linear per doc,
    no shuffle. Token array materialize()d so the tokenizer is not
    re-inlined into the per-element trigram lambda."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(docs.select("doc_id", "text"), w=tokens(F.col("text")))
    tri = _text_shingles(F.col("w"), 3)
    scored = toks.filter(F.size("w") >= 3).select(
        "doc_id", tri.alias("t")
    )
    ratio = F.size(F.array_distinct("t")) / F.size("t").cast("double")
    return scored.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_trigrams"),
        rnd(ratio, 4).alias("distinct_ratio"),
        (ratio < 0.55).alias("is_repetitive"),
    )


EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
PHONE_RE = r"\+[0-9][0-9-]{6,}"


@query(
    "q_pii_scrub",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@mail.example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS scrub_hash
    FROM raw
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact emails/phone numbers and count redactions.
    The fixture corpus carries no organic PII, so the query appends a
    deterministic contact line per document (fixture adaptation, like
    multimodal's with_binary_column) and the operator scrubs it —
    pattern set kept to the regex subset with identical semantics in
    Java regex and RE2/DuckDB. Pure per-row JVM regexp work: no
    shuffle, codegen-friendly, linear at any scale."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = materialize(docs.select("doc_id", "text"), t=raw)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


@query(
    "q_contamination",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 5
    ), sh AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+4], ' ')
                     for i in range(1, len(w) - 3)]) AS shingle
      FROM tok
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id,
           CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_shared_shingles
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with a held-out benchmark set (here: every 97th doc). The
    scalable shape: explode both sides to shingle rows, broadcast the
    (small) benchmark shingle set, equi-join, count distinct overlaps
    per training doc — at 100 TB the benchmark side stays a broadcast
    (benchmarks are MBs) and the training side is one linear explode
    plus one aggregation shuffle."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(docs.select("doc_id", "text"), w=tokens(F.col("text")))
    sh = toks.filter(F.size("w") >= 5).select(
        "doc_id", F.explode(_text_shingles(F.col("w"), 5)).alias("shingle")
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_shingles"))
    )


@query(
    "q_length_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT CASE WHEN n_tokens < 32 THEN '0-31'
                WHEN n_tokens < 64 THEN '32-63'
                WHEN n_tokens < 128 THEN '64-127'
                WHEN n_tokens < 256 THEN '128-255'
                ELSE '256+' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 2) AS avg_tokens
    FROM tok
    GROUP BY 1
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length bucketing: histogram of documents by token-count
    band — the planning query behind batch-shape selection and packing
    efficiency estimates. Explicit CASE bands (not float log2) so both
    engines bucket identically. One aggregation shuffle over 5 groups."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text"))).cast("bigint")
    sized = docs.select(n.alias("n_tokens"))
    bucket = (
        F.when(F.col("n_tokens") < 32, "0-31")
        .when(F.col("n_tokens") < 64, "32-63")
        .when(F.col("n_tokens") < 128, "64-127")
        .when(F.col("n_tokens") < 256, "128-255")
        .otherwise("256+")
    )
    return (
        sized.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            rnd(F.avg("n_tokens"), 2).alias("avg_tokens"),
        )
    )


STOPWORDS = ["the", "a", "of", "to", "and"]


@query(
    "q_source_quality",
    oracle="""
    WITH t AS (
      SELECT source, string_split(lower(text), ' ') AS toks,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents
    ), scored AS (
      SELECT source, len(toks) AS n_tokens,
             least(1.0, len(toks) / 100.0) * 0.5 +
             CASE WHEN nc BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END AS q
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(q), 4) AS avg_quality,
           round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE),
                 4) AS corpus_share,
           avg(q) >= 0.6 AS keep_source
    FROM scored GROUP BY source
    """,
)
def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation: roll document quality up to the SOURCE
    (site/domain/dump) and decide keep/drop per source — the pipeline
    stage that cuts spam domains wholesale before any per-document
    work. Quality is the same composite q_text_quality scores per doc
    (length saturation + chars-in-range), so both stages agree. Scale:
    one aggregation shuffle keyed by source (domains ~ millions, not
    billions); the corpus-total denominator is a 1-row broadcast —
    no second pass over the data."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    q = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0)) * 0.5 + F.when(
        F.length("text").between(100, 5000), 0.5
    ).otherwise(0.0)
    scored = docs.select(
        "source", F.size(toks).cast("bigint").alias("n_tokens"), q.alias("q")
    )
    total = docs.select(F.count(F.lit(1)).alias("n_total"))
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.avg("q").alias("avg_q"),
    )
    return agg.crossJoin(total).select(
        "source",
        "n_docs",
        "total_tokens",
        rnd(F.col("avg_q"), 4).alias("avg_quality"),
        rnd(F.col("n_docs") / F.col("n_total").cast("double"), 4).alias(
            "corpus_share"
        ),
        (F.col("avg_q") >= 0.6).alias("keep_source"),
    )


@query(
    "q_column_profile",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS null_ratio,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6),
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema/data profiling — the validation gate a pipeline runs
    before training ingestion: per-column row count, null count, null
    ratio, and exact distinct cardinality. ONE aggregation pass
    computes every column's stats (Catalyst expands the multi-distinct
    into a single Expand + two-level aggregate, not one scan per
    column — the oracle's UNION ALL of per-column scans is the
    fixture-scale equivalent), then an unpivot emits one row per
    column. Scale: distinct-heavy profiling of wide tables would swap
    count(DISTINCT) for approx_count_distinct per the
    q_approx_distinct pattern."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderpriority", "o_totalprice"]
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
            for c in cols
        ],
        *[F.countDistinct(c).alias(f"dist_{c}") for c in cols],
    )
    stacked = agg.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, n_rows, n_nulls, n_distinct)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', n_rows, null_{c}, dist_{c}" for c in cols
                ),
            )
        )
    )
    return stacked.select(
        "column_name",
        "n_rows",
        "n_nulls",
        rnd(F.col("n_nulls") / F.col("n_rows").cast("double"), 6).alias(
            "null_ratio"
        ),
        "n_distinct",
    ).select("column_name", "n_rows", "n_nulls", "null_ratio", "n_distinct")


@query(
    "q_data_mixture",
    oracle="""
    WITH counted AS (
      SELECT doc_id, source,
             count(*) OVER (PARTITION BY source) AS n_docs,
             count(*) OVER () AS total,
             count(DISTINCT source) OVER () AS n_sources,
             ('0x' || substr(md5('mix:' || doc_id), 1, 8))::UBIGINT
                 / 4294967296.0 AS u
      FROM documents
    ), fractioned AS (
      SELECT doc_id, source, n_docs,
             least(1.0, (total / CAST(n_sources AS DOUBLE)) / n_docs) AS frac,
             u
      FROM counted
    )
    SELECT source,
           CAST(max(n_docs) AS BIGINT) AS n_docs,
           round(max(frac), 6) AS frac,
           CAST(count(*) FILTER (WHERE u < frac) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(doc_id) FILTER (WHERE u < frac), 0)
                AS BIGINT) AS kept_checksum
    FROM fractioned
    GROUP BY source
    """,
)
def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling: downsample each source toward a UNIFORM
    target share (total/n_sources docs per source) — the rebalancing
    step a training-data pipeline runs when one crawl dominates the
    mix. Each doc draws a deterministic pseudo-uniform u from
    md5(doc_id) and survives iff u < min(1, target/n_source), so the
    sample is reproducible across runs, engines, and partitionings
    (same property as q_train_test_split), and the kept set is
    verifiable: the oracle recomputes the identical decision per doc
    (kept_checksum = sum of surviving doc_ids). Scale: one window/agg
    shuffle on source for counts, then a map-side filter — the
    candidate mixture never materializes, and per-source fractions are
    a broadcast-sized table at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # Per-source counts (bounded cardinality -> broadcast-sized), then
    # corpus totals as a 1-row aggregate OF THAT small table — never a
    # global window over the corpus (an unpartitioned window is a
    # single-partition sort at scale).
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    stats = srcs.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    fracs = srcs.crossJoin(stats).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.col("total") / F.col("n_sources").cast("double"))
            / F.col("n_docs"),
        ).alias("frac"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    kept = u < F.col("frac")
    return (
        docs.join(F.broadcast(fracs), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            rnd(F.max("frac"), 6).alias("frac"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(kept, F.col("doc_id"))), F.lit(0)
            ).cast("bigint").alias("kept_checksum"),
        )
    )


@query(
    "q_length_filter_adaptive",
    oracle="""
    WITH bounds AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(max(b.lo), 4) AS p05_chars,
           round(max(b.hi), 4) AS p95_chars,
           CAST(count(*) FILTER (WHERE d.n_chars >= b.lo
                                   AND d.n_chars <= b.hi) AS BIGINT) AS n_kept
    FROM documents d JOIN bounds b USING (lang)
    GROUP BY d.lang
    """,
)
def q_length_filter_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive length filtering: keep docs inside their OWN language's
    [p05, p95] char-length band instead of one global cutoff — the
    quality-filter shape that doesn't systematically discard languages
    with shorter/longer scripts (a fixed byte threshold over-prunes zh
    and under-prunes de). Exact interpolated percentiles per language
    (both engines linear-interpolate), broadcast back to the corpus for
    a map-side band filter. Scale: percentile agg shuffles on lang
    (bounded cardinality); the per-lang bounds table is broadcast, so
    the corpus itself is filtered without a second shuffle;
    percentile_approx is the documented at-scale variant (same swap as
    q_percentiles)."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    joined = docs.join(F.broadcast(bounds), "lang")
    in_band = (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.max("lo"), 4).alias("p05_chars"),
        rnd(F.max("hi"), 4).alias("p95_chars"),
        F.sum(in_band.cast("bigint")).alias("n_kept"),
    )


@query(
    "q_curation_funnel",
    oracle="""
    WITH s0 AS (
      SELECT doc_id, text, source,
             string_split(lower(text), ' ') AS toks
      FROM documents
    ), s1 AS (
      SELECT doc_id, text, source FROM s0
      WHERE len(toks) >= 20
        AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) >= 0.3
    ), s2 AS (
      SELECT doc_id, text, source FROM (
        SELECT *, min(doc_id) OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text),
                                                      '\\s+', ' ', 'g')))
               ) AS keeper
        FROM s1
      ) WHERE doc_id = keeper
    ), tok2 AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM s2
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok2
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), s3 AS (
      SELECT s2.doc_id, s2.source FROM s2
      WHERE NOT EXISTS (
        SELECT 1 FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
        WHERE b.doc_id = s2.doc_id
      )
    ), src3 AS (
      SELECT source, count(*) AS n3 FROM s3 GROUP BY source
    ), stats3 AS (
      SELECT CAST(sum(n3) AS DOUBLE) AS total, count(*) AS n_sources
      FROM src3
    ), s4 AS (
      SELECT s3.doc_id, s3.source FROM s3
      JOIN src3 USING (source) CROSS JOIN stats3
      WHERE ('0x' || substr(md5('mix:' || s3.doc_id), 1, 8))::UBIGINT
              / 4294967296.0
            < least(1.0, (total / n_sources) / n3)
    )
    SELECT d.source,
           CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_input,
           CAST(count(DISTINCT s1.doc_id) AS BIGINT) AS n_quality,
           CAST(count(DISTINCT s2.doc_id) AS BIGINT) AS n_exact,
           CAST(count(DISTINCT s3.doc_id) AS BIGINT) AS n_neardup,
           CAST(count(DISTINCT s4.doc_id) AS BIGINT) AS n_final
    FROM documents d
    LEFT JOIN s1 ON s1.doc_id = d.doc_id
    LEFT JOIN s2 ON s2.doc_id = d.doc_id
    LEFT JOIN s3 ON s3.doc_id = d.doc_id
    LEFT JOIN s4 ON s4.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline with a per-source funnel report:
    quality gate (min tokens + type-token ratio) -> exact dedup
    (keep-min-id per normalized fingerprint) -> MinHash-LSH near-dup
    drop (collides in some band with a smaller surviving id) -> mixture
    rebalance toward uniform source shares (deterministic hash
    threshold). The output is the count surviving each stage per
    source — the funnel dashboard every production pipeline publishes,
    and the composition proof that the individual operators (text
    stats, exact_dedup, minhash_bands, q_data_mixture's rule) chain
    without materialization barriers. Scale: each stage adds at most
    one bounded keyed shuffle (fingerprint window on s1, band self-join
    on s2 survivors, source-count broadcast); the funnel rollup
    aggregates flags, not rows-per-stage."""
    from sparrow_spark.operators.dedup import fingerprint, minhash_bands

    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    s1 = docs.filter(
        (F.size(toks) >= 20)
        & (F.size(F.array_distinct(toks)) / F.size(toks).cast("double") >= 0.3)
    ).select("doc_id", "text", "source")
    w_fp = Window.partitionBy("fp")
    s2 = (
        s1.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("keeper", F.min("doc_id").over(w_fp))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text", "source")
    )
    bands = minhash_bands(s2)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
    dup_ids = (
        bands.join(a, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    s3 = s2.join(dup_ids, "doc_id", "left_anti").select("doc_id", "source")
    src3 = s3.groupBy("source").agg(F.count(F.lit(1)).alias("n3"))
    stats3 = src3.agg(
        F.sum("n3").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    frac = F.least(
        F.lit(1.0), (F.col("total") / F.col("n_sources")) / F.col("n3")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    s4 = (
        s3.join(src3, "source")
        .crossJoin(stats3)
        .filter(u < frac)
        .select("doc_id", "source")
    )
    flag = lambda df, name: df.select(  # noqa: E731
        "doc_id", F.lit(1).alias(name)
    )
    return (
        docs.select("doc_id", "source")
        .join(flag(s1, "f1"), "doc_id", "left")
        .join(flag(s2, "f2"), "doc_id", "left")
        .join(flag(s3, "f3"), "doc_id", "left")
        .join(flag(s4, "f4"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            F.count("f1").alias("n_quality"),
            F.count("f2").alias("n_exact"),
            F.count("f3").alias("n_neardup"),
            F.count("f4").alias("n_final"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff — the incremental-refresh primitive: when a new
# crawl snapshot lands, classify every document as added / removed /
# changed / unchanged vs the previous snapshot by content fingerprint.
# ---------------------------------------------------------------------------


def snapshot_diff(old: DataFrame, new: DataFrame, key: str = "doc_id") -> DataFrame:
    """Full-outer join of two snapshots on `key`, both carrying a
    content fingerprint column `fp`; emits (key, status, source).
    Scale: one keyed shuffle join (at production scale, both snapshots
    bucketed/partitioned on the key make it a zero-exchange
    storage-partitioned join); fingerprints are computed map-side at
    scan and the texts themselves never move."""
    o = old.select(
        F.col(key).alias("o_key"), F.col("fp").alias("o_fp"),
        F.col("source").alias("o_source"),
    )
    n = new.select(
        F.col(key).alias("n_key"), F.col("fp").alias("n_fp"),
        F.col("source").alias("n_source"),
    )
    j = o.join(n, o.o_key == n.n_key, "full_outer")
    status = (
        F.when(F.col("o_key").isNull(), "added")
        .when(F.col("n_key").isNull(), "removed")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce("o_key", "n_key").alias("doc_id"),
        F.coalesce("n_source", "o_source").alias("source"),
        status.alias("status"),
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
      WHERE doc_id % 10 <> 0
    ), new AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 5 = 0 THEN reverse(text) ELSE text END) AS fp
      FROM documents WHERE doc_id % 7 <> 0
    ), j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             coalesce(n.source, o.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT source, status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM j GROUP BY source, status
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over simulated crawl generations: the 'previous'
    snapshot drops every 10th doc, the 'new' one drops every 7th and
    rewrites every 5th (fingerprint of reversed text stands in for
    changed content). Aggregated to (source, status) counts with an
    id checksum so the classification itself is value-verified."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.col("doc_id") % 5 == 0, F.reverse(F.col("text"))).otherwise(
                F.col("text")
            )
        ).alias("fp"),
    )
    return (
        snapshot_diff(old, new)
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@query(
    "q_mixture_temperature",
    oracle="""
    WITH srcs AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n_docs
      FROM documents GROUP BY source
    ), stats AS (
      SELECT sum(sqrt(n_docs)) AS sum_pow, sum(n_docs) AS total FROM srcs
    ), fracs AS (
      SELECT source, n_docs,
             sqrt(n_docs) / s.sum_pow AS share,
             least(1.0, (s.total / 2.0) * (sqrt(n_docs) / s.sum_pow) / n_docs)
                 AS frac
      FROM srcs CROSS JOIN stats s
    ), drawn AS (
      SELECT d.doc_id, d.source, f.n_docs, f.share, f.frac,
             ('0x' || substr(md5('tmix:' || d.doc_id), 1, 8))::UBIGINT
                 / 4294967296.0 AS u
      FROM documents d JOIN fracs f USING (source)
    )
    SELECT source,
           CAST(max(n_docs) AS BIGINT) AS n_docs,
           round(max(share), 6) AS share,
           round(max(frac), 6) AS frac,
           CAST(count(*) FILTER (WHERE u < frac) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(doc_id) FILTER (WHERE u < frac), 0)
                AS BIGINT) AS kept_checksum
    FROM drawn GROUP BY source
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (alpha = 0.5, the
    multilingual-pretraining upsampling curve): target share per
    source proportional to n^alpha — flattening the source
    distribution less aggressively than q_data_mixture's uniform
    target — with a half-corpus keep budget. frac = min(1,
    budget*share/n) in a single pass (no waterfilling iteration; a
    capped small source just under-fills the budget, documented
    behavior). Same deterministic per-doc draw and checksum
    verification as q_data_mixture; same scale shape (broadcast
    per-source fractions, map-side keep decision, corpus never
    shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    stats = srcs.agg(
        F.sum(F.sqrt("n_docs")).alias("sum_pow"), F.sum("n_docs").alias("total")
    )
    share = F.sqrt(F.col("n_docs")) / F.col("sum_pow")
    fracs = srcs.crossJoin(stats).select(
        "source",
        "n_docs",
        share.alias("share"),
        F.least(F.lit(1.0), (F.col("total") / 2.0) * share / F.col("n_docs")).alias(
            "frac"
        ),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    kept = u < F.col("frac")
    return (
        docs.join(F.broadcast(fracs), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            rnd(F.max("share"), 6).alias("share"),
            rnd(F.max("frac"), 6).alias("frac"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT source,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
           CAST(count(n_chars) AS BIGINT) AS n_chars_cnt,
           round(sum(n_chars) / CAST(count(n_chars) AS DOUBLE), 6)
               AS n_chars_avg
    FROM documents GROUP BY source
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit hot-key aggregation pattern as a driver-verified
    query: per-source character totals computed through
    functions.skew.salted_sum_count — phase 1 groups on
    (source, salt-of-row) so ONE dominant source fans across 16
    partial groups instead of routing its whole volume to a single
    reducer; phase 2 re-aggregates the |sources| x 16 partials. The
    oracle is the plain GROUP BY, proving the salted two-phase plan is
    result-identical (sum/count are algebraic, so bucket partials
    compose exactly; avg derives after the final sum). This is the
    escape hatch for aggregation skew beyond AQE's reach — AQE splits
    skewed JOIN partitions but cannot split a single aggregation key."""
    from sparrow_spark.functions.skew import salted_sum_count

    docs = widen(load_table(spark, sf_dir, "documents"))
    out = salted_sum_count(
        docs.select("source", "n_chars"), ["source"], ["n_chars"], buckets=16
    )
    return out.select(
        "source",
        F.col("n_chars_sum").cast("bigint").alias("n_chars_sum"),
        F.col("n_chars_cnt").cast("bigint").alias("n_chars_cnt"),
        rnd(F.col("n_chars_sum") / F.col("n_chars_cnt").cast("double"), 6).alias(
            "n_chars_avg"
        ),
    )



# ---------------------------------------------------------------------------
# Curriculum bucketing: distributed ntile over a difficulty score
# ---------------------------------------------------------------------------

CURRICULUM_SHARDS = 8

from sparrow_spark.operators.text import (  # noqa: E402
    CLS_DIM,
    _cls_weights_milli_sql,
    classifier_scores,
)

_CURR_W_SQL = _cls_weights_milli_sql()


@query(
    "q_curriculum_buckets",
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
             sum(CAST(cnt AS BIGINT) * ({_CURR_W_SQL})[bucket + 1])
               AS wsum_milli
      FROM c GROUP BY doc_id
    ), d AS (
      SELECT doc_id, round(-(wsum_milli / (1000.0 * n)), 4) AS difficulty
      FROM s
    )
    SELECT doc_id, difficulty,
           CAST(ntile({CURRICULUM_SHARDS}) OVER (ORDER BY difficulty, doc_id) AS BIGINT)
             AS shard
    FROM d
    """,
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum sharding: order the corpus by a model-derived
    difficulty score (negated quality-classifier logit — "easy,
    high-quality text first") and split it into N equal-size
    training shards, i.e. a distributed ntile. Spark's own ntile
    window without a partition key would drag the corpus through ONE
    task; instead the exact global rank comes from global_sort_ranks
    (range partition + local rank + partition-count-sized offset
    window) and the SQL-standard ntile bucket is derived from
    (rank, total) arithmetically — bit-identical to the oracle's
    ntile() because both implement "first (c mod N) buckets get one
    extra row". Total count rides a 1-row broadcast. Difficulty is
    the ROUNDED logit so the sort order is engine-identical."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    scored = classifier_scores(docs).select(
        "doc_id",
        rnd(-(F.col("wsum_milli") / (F.lit(1000.0) * F.col("n"))), 4).alias(
            "difficulty"
        ),
    )
    ranked = global_sort_ranks(scored, ["difficulty", "doc_id"])
    total = scored.agg(F.count(F.lit(1)).alias("c"))
    n = F.lit(CURRICULUM_SHARDS)
    qsize = (F.col("c") / n).cast("bigint")  # floor
    rem = F.col("c") % n
    big = rem * (qsize + 1)  # rows covered by the (q+1)-sized buckets
    shard = F.when(
        F.col("rn") <= big, ((F.col("rn") - 1) / (qsize + 1)).cast("bigint") + 1
    ).otherwise(
        rem + ((F.col("rn") - big - 1) / qsize).cast("bigint") + 1
    )
    return (
        ranked.crossJoin(total)
        .select("doc_id", "difficulty", shard.cast("bigint").alias("shard"))
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance via mergeable state (n, sum, M2)
# ---------------------------------------------------------------------------


@query(
    "q_incremental_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 6) AS mean_value,
           round(var_pop(value), 6) AS var_value
    FROM events
    GROUP BY event_type
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance: a BASE cohort's
    aggregate state is merged with a DELTA cohort's state WITHOUT
    re-aggregating the base — the materialized-view refresh pattern
    that turns a 100 TB nightly rollup into a delta-sized job. State
    per group is the mergeable triple (n, sum, M2): counts and sums
    add; second central moments combine by Chan's parallel formula
    M2 = M2_a + M2_b + (mean_b - mean_a)^2 * n_a*n_b/n. The oracle
    aggregates ALL rows directly, so a hash match PROVES the merge
    reconstructs count/sum/mean/variance exactly (to the rounding
    guard) rather than approximately.

    Scale: each cohort aggregates with map-side partial combine (one
    keyed shuffle each, the delta one delta-sized); the merge is a
    FULL OUTER join of two group-count-sized state tables with
    zero-state defaults for groups present on one side only. No
    corpus-sized rescan of the base ever happens."""
    events = load_table(spark, sf_dir, "events")

    def state(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("double").alias(f"n_{tag}"),
            F.sum("value").alias(f"s_{tag}"),
            (F.var_pop("value") * F.count(F.lit(1))).alias(f"m2_{tag}"),
        )

    base = state(events.filter(F.col("event_id") % 4 != 0), "a")
    delta = state(events.filter(F.col("event_id") % 4 == 0), "b")
    j = base.join(delta, "event_type", "full_outer").select(
        "event_type",
        *[
            F.coalesce(F.col(c), F.lit(0.0)).alias(c)
            for c in ("n_a", "s_a", "m2_a", "n_b", "s_b", "m2_b")
        ],
    )
    n = F.col("n_a") + F.col("n_b")
    s = F.col("s_a") + F.col("s_b")
    # Chan et al. parallel-variance merge; guard the n_a=0 / n_b=0
    # edges (delta term collapses to 0 with an empty side).
    dmean = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.col("s_b") / F.col("n_b") - F.col("s_a") / F.col("n_a"),
    ).otherwise(F.lit(0.0))
    m2 = (
        F.col("m2_a")
        + F.col("m2_b")
        + dmean * dmean * F.col("n_a") * F.col("n_b") / n
    )
    return j.select(
        "event_type",
        n.cast("bigint").alias("n"),
        rnd(s, 4).alias("sum_value"),
        rnd(s / n, 6).alias("mean_value"),
        rnd(m2 / n, 6).alias("var_value"),
    )


SYSTEMATIC_STRIDE = 20


@query(
    "q_systematic_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY md5('s:' || text), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, CAST(rn AS BIGINT) AS rn
    FROM ranked
    WHERE (rn - 1) % {SYSTEMATIC_STRIDE} = 0
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling over a deterministic
    pseudo-random order: rank the corpus by a content hash (so the
    order is reproducible across runs and engines but uncorrelated
    with ingestion order) and keep every {SYSTEMATIC_STRIDE}-th row —
    the reproducible eval-split / spot-check sampler, complementing
    the probabilistic samplers (stratified / weighted / reservoir)
    with one whose exact membership is re-derivable by anyone with
    the data. Exact 1/k rate by construction, not in expectation.

    Scale: the only global structure needed is the rank, which comes
    from global_sort_ranks (range partition + local rank + tiny
    offset window) — no single-task sort; the stride filter is
    map-side."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5(F.concat(F.lit("s:"), F.col("text"))).alias("k")
    )
    ranked = global_sort_ranks(docs, ["k", "doc_id"])
    return (
        ranked.filter((F.col("rn") - 1) % SYSTEMATIC_STRIDE == 0)
        .select("doc_id", F.col("rn").cast("bigint").alias("rn"))
    )


@query(
    "q_fk_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
    """,
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for every foreign-key edge, the ingest-time data-quality
    gate that catches broken joins BEFORE a silent inner-join row loss
    corrupts downstream aggregates. Each edge is one LEFT ANTI join —
    Spark's dedicated plan for "child rows with no parent" (the parent
    side broadcasts when dimension-sized; the fact side never moves
    more than once) — far cheaper than the correlated NOT EXISTS it
    replaces textually in the oracle, and the reason this audit stays
    viable nightly at 100 TB."""
    def edge(fk: str, child: DataFrame, key: str, parent: DataFrame, pkey: str) -> DataFrame:
        orphans = child.join(
            parent.select(F.col(pkey).alias(key)).distinct(), key, "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            )
            .select(F.lit(fk).alias("fk"), "n_child", "n_orphans")
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    out = edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
    for e in (
        edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        edge("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        edge("supplier.s_nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"),
    ):
        out = out.unionByName(e)
    return out


@query(
    "q_filter_eval_auc",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score,
             (len(w) >= 40 AND list_contains(w, 'the')) AS label
      FROM t
    ), ranked AS (
      SELECT score, label,
             row_number() OVER (ORDER BY score, doc_id) AS rn
      FROM scored
    ), grp AS (
      SELECT score, min(rn) AS minr, count(*) AS c,
             sum(CASE WHEN label THEN 1 ELSE 0 END) AS npos
      FROM ranked GROUP BY score
    ), stats AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(npos) AS BIGINT) AS n_pos,
             sum(npos * (minr + (c - 1) / 2.0)) AS prs
      FROM grp
    ), thr AS (
      SELECT CAST(i AS DOUBLE) / 10 AS threshold FROM range(1, 10) t(i)
    ), conf AS (
      SELECT threshold,
             CAST(coalesce(sum(CASE WHEN score >= threshold THEN npos END), 0)
                  AS BIGINT) AS tp,
             CAST(coalesce(sum(CASE WHEN score >= threshold THEN c - npos END), 0)
                  AS BIGINT) AS fp
      FROM thr, grp GROUP BY threshold
    )
    SELECT threshold, tp, fp,
           (n_pos - tp) AS fn, (n - n_pos - fp) AS tn,
           round(CASE WHEN tp + fp > 0
                      THEN tp / CAST(tp + fp AS DOUBLE) END, 6) AS prec,
           round(tp / CAST(n_pos AS DOUBLE), 6) AS rec,
           round(CASE WHEN tp + fp + n_pos > 0
                      THEN 2.0 * tp / (tp + fp + n_pos) END, 6) AS f1,
           round((prs - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * CAST(n - n_pos AS DOUBLE)), 6) AS auc
    FROM conf, stats
    ORDER BY threshold
    """,
)
def q_filter_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter evaluation: tie-aware ROC-AUC (Mann-Whitney
    rank-sum) of a candidate signal (distinct-word ratio) against a
    reference label (length + stop-word gate), plus a full
    threshold-sweep confusion table (precision / recall / F1 at nine
    cuts) — the calibration step every production filter (fastText
    quality, KenLM perplexity cuts) goes through before a corpus-wide
    rollout.

    Cross-engine exactness: the block threshold comparison and the
    tie-averaged ranks are derived from integer counts and identical
    IEEE divisions; ranks come from (score, doc_id) total order.

    Scale: ranks via global_sort_ranks (range-partition + per-partition
    row_number + broadcast offsets — no single-task window); the
    score-group table is the only other shuffle (keyed agg with
    map-side combine); the 9-row threshold table and the 1-row stats
    table are broadcast. AUC over 100 TB of scores is exactly this
    shape; nothing corpus-sized crosses the wire twice."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    w = F.split(F.lower(F.col("text")), " ")
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("score"),
        ((F.size(w) >= 40) & F.array_contains(w, "the")).alias("label"),
    )
    ranked = global_sort_ranks(scored, ["score", "doc_id"])
    grp = ranked.groupBy("score").agg(
        F.min("rn").alias("minr"),
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("npos"),
    )
    stats = grp.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum(F.col("npos") * (F.col("minr") + (F.col("c") - 1) / F.lit(2.0))).alias(
            "prs"
        ),
    )
    thr = spark.range(1, 10).select(
        (F.col("id").cast("double") / 10).alias("threshold")
    )
    conf = (
        thr
        .join(grp)
        .groupBy("threshold")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("score") >= F.col("threshold"), F.col("npos"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("score") >= F.col("threshold"),
                        F.col("c") - F.col("npos"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("fp"),
        )
    )
    tp, fp = F.col("tp"), F.col("fp")
    n, n_pos, prs = F.col("n"), F.col("n_pos"), F.col("prs")
    return (
        conf.join(stats)
        .select(
            "threshold",
            "tp",
            "fp",
            (n_pos - tp).alias("fn"),
            (n - n_pos - fp).alias("tn"),
            rnd(F.when(tp + fp > 0, tp / (tp + fp).cast("double")), 6).alias("prec"),
            rnd(tp / n_pos.cast("double"), 6).alias("rec"),
            rnd(
                F.when(tp + fp + n_pos > 0, F.lit(2.0) * tp / (tp + fp + n_pos)), 6
            ).alias("f1"),
            rnd(
                (prs - n_pos * (n_pos + 1) / F.lit(2.0))
                / (n_pos * (n - n_pos).cast("double")),
                6,
            ).alias("auc"),
        )
        .orderBy("threshold")
    )


@query(
    "q_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_band,
             count(*) AS group_n,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_band, CAST(group_n AS BIGINT) AS group_n,
           group_n >= 5 AS k_anonymous, min_doc_id
    FROM g ORDER BY lang, source, len_band
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier combinations (lang,
    source, coarse length band): a released dataset is k-anonymous at
    k=5 when every QI combination matches at least 5 records; smaller
    groups are re-identification risks that must be suppressed or
    generalized before release (Sweeney 2002 — the standard audit
    next to PII scrubbing, see q_pii_scrub).

    Scale: one keyed aggregate with map-side combine; output is
    bounded by the QI-domain product (langs x sources x bands), not
    corpus size, so the full audit table broadcasts back for the
    suppression pass at any scale."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy(
            "lang",
            "source",
            (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_n"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .select(
            "lang", "source", "len_band", "group_n",
            (F.col("group_n") >= 5).alias("k_anonymous"),
            "min_doc_id",
        )
        .orderBy("lang", "source", "len_band")
    )


@query(
    "q_bias_mi",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS cnt
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS n, count(*) AS n_cells FROM c
    ), rl AS (
      SELECT lang, sum(cnt) AS lc FROM c GROUP BY 1
    ), cs AS (
      SELECT source, sum(cnt) AS sc FROM c GROUP BY 1
    )
    SELECT CAST(n AS BIGINT) AS n_docs, CAST(n_cells AS BIGINT) AS n_cells,
           round(sum((cnt / n) * ln(cnt * n / (lc * sc))), 6) AS mutual_info,
           round(sum((cnt - lc * sc / n) * (cnt - lc * sc / n)
                     / (lc * sc / n)), 4) AS chi2
    FROM c, tot, rl, cs
    WHERE c.lang = rl.lang AND c.source = cs.source
    GROUP BY n, n_cells
    """,
)
def q_bias_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset bias audit: mutual information and the chi-square
    independence statistic between the lang and source columns. MI > 0
    means language mix varies by source — exactly the confound a
    mixture-balancing step (q_data_mixture) must correct before
    training; chi2 gives the classical significance scale.

    Cross-engine note: the per-cell terms are identical IEEE
    expressions; only the 100-cell summation order differs (~1e-15
    relative), absorbed by the rounded output.

    Scale: the contingency table is ONE keyed aggregate (map-side
    combine) bounded by langs x sources; marginals and the final
    reduction run on that tiny table, broadcast-joined — the corpus is
    read once and never re-shuffled."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    tot = c.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    rl = c.groupBy("lang").agg(F.sum("cnt").alias("lc"))
    cs = c.groupBy("source").agg(F.sum("cnt").alias("sc"))
    cnt, n, lc, sc = F.col("cnt"), F.col("n"), F.col("lc"), F.col("sc")
    e = lc * sc / n
    return (
        c.join(rl, "lang")
        .join(cs, "source")
        .join(tot)
        .groupBy("n", "n_cells")
        .agg(
            rnd(F.sum((cnt / n) * F.log(cnt * n / (lc * sc))), 6).alias(
                "mutual_info"
            ),
            rnd(F.sum((cnt - e) * (cnt - e) / e), 4).alias("chi2"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("n_cells").cast("bigint").alias("n_cells"),
            "mutual_info",
            "chi2",
        )
    )


@query(
    "q_weak_supervision",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), lf AS (
      SELECT doc_id,
             len(w) >= 40 AS l_len,
             CASE WHEN len(w) >= 3 THEN
               len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]))
                 / CAST(len(w) - 2 AS DOUBLE) >= 0.55
             ELSE false END AS l_rep,
             list_contains(w, 'the') AS l_stop
      FROM t
    )
    SELECT doc_id, l_len, l_rep, l_stop,
           CAST(CAST(l_len AS INT) + CAST(l_rep AS INT) + CAST(l_stop AS INT)
                AS BIGINT) AS votes,
           (CAST(l_len AS INT) + CAST(l_rep AS INT) + CAST(l_stop AS INT)) >= 2
               AS label,
           (CAST(l_len AS INT) + CAST(l_rep AS INT) + CAST(l_stop AS INT))
               IN (0, 3) AS unanimous
    FROM lf
    """,
)
def q_weak_supervision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision label aggregation (Snorkel-style, Ratner et
    al. 2017): three independent heuristic labeling functions (length
    gate, repetition gate, stop-word gate) vote per document; the
    training label is the majority, and the unanimity flag feeds
    confidence weighting downstream. The standard way to bootstrap a
    quality classifier's training set without human labels — the
    trained artifact is then q_quality_classifier's weight vector.

    Scale: every labeling function is a map-side higher-order
    expression over the token array — zero shuffles, zero Python; at
    100 TB the vote matrix streams straight into the classifier
    trainer's aggregation."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(docs.select("doc_id", "text"), w=tokens(F.col("text")))
    tri = _text_shingles(F.col("w"), 3)
    l_len = F.size("w") >= 40
    l_rep = F.when(
        F.size("w") >= 3,
        F.size(F.array_distinct(tri)) / (F.size("w") - 2).cast("double") >= 0.55,
    ).otherwise(F.lit(False))
    l_stop = F.array_contains("w", "the")
    lf = toks.select(
        "doc_id",
        l_len.alias("l_len"),
        l_rep.alias("l_rep"),
        l_stop.alias("l_stop"),
    )
    votes = (
        F.col("l_len").cast("int")
        + F.col("l_rep").cast("int")
        + F.col("l_stop").cast("int")
    )
    return lf.select(
        "*",
        votes.cast("bigint").alias("votes"),
        (votes >= 2).alias("label"),
        votes.isin(0, 3).alias("unanimous"),
    )


N_EXPORT_SHARDS = 8


@query(
    "q_shard_export",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM t
    ), assigned AS (
      SELECT doc_id, n_tokens,
             CAST((rn - 1) % {N_EXPORT_SHARDS} AS BIGINT) AS shard
      FROM ranked
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS all_tokens FROM assigned
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           round(sum(n_tokens) * {N_EXPORT_SHARDS} / all_tokens, 6)
               AS balance_ratio
    FROM assigned, tot
    GROUP BY shard, all_tokens
    ORDER BY shard
    """,
)
def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export assignment: place every document into one
    of N shards with balanced token mass — the final step before a
    corpus ships to a trainer (each data-parallel worker streams one
    shard; imbalance = stragglers). Size-descending round-robin (the
    longest-processing-time greedy) guarantees shard totals within
    one max-document of ideal; the balance_ratio column (shard share
    x N / total, ideal 1.0) is the audit.

    Scale: ranks come from global_sort_ranks (range-partition + local
    rank + broadcast offsets — no single-task window); assignment is
    arithmetic on the rank; per-shard stats are one N-row keyed agg.
    The physical write would be .repartition(N, shard)
    .write.partitionBy(shard) — shape unchanged at 100 TB."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        (-F.size(tokens(F.col("text")))).cast("bigint").alias("neg_tokens"),
    )
    ranked = global_sort_ranks(t, ["neg_tokens", "doc_id"])
    assigned = ranked.select(
        "doc_id", "n_tokens",
        ((F.col("rn") - 1) % N_EXPORT_SHARDS).cast("bigint").alias("shard"),
    )
    tot = assigned.agg(F.sum("n_tokens").cast("double").alias("all_tokens"))
    return (
        assigned.join(tot)
        .groupBy("shard", "all_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            rnd(
                F.sum("n_tokens") * N_EXPORT_SHARDS / F.first("all_tokens"), 6
            ).alias("balance_ratio"),
        )
        .select(
            "shard", "n_docs", "shard_tokens", "min_doc_id", "balance_ratio"
        )
        .orderBy("shard")
    )


@query(
    "q_quantile_normalize",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words
      FROM documents
    ), r AS (
      SELECT doc_id, n_words,
             row_number() OVER (ORDER BY n_words, doc_id) AS rn,
             count(*) OVER () AS n
      FROM s
    )
    SELECT doc_id, n_words,
           round((rn - 1) / CAST(n - 1 AS DOUBLE), 6) AS quantile
    FROM r
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a raw feature — mapping every
    value to its corpus quantile in [0, 1] makes heterogenous signals
    (lengths, perplexities, classifier logits) directly comparable and
    mixture-stable, the standard preprocessing before combining
    quality scores or applying a fixed keep-fraction.

    Scale: the rank comes from global_sort_ranks (range partition +
    local rank + broadcast offsets — never a single-task global
    window); the corpus total is a 1-row broadcast. One range
    shuffle, everything else map-side."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
    )
    ranked = global_sort_ranks(s, ["n_words", "doc_id"])
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(n)
        .select(
            "doc_id", "n_words",
            rnd((F.col("rn") - 1) / (F.col("n") - 1).cast("double"), 6).alias(
                "quantile"
            ),
        )
    )


DP_EPSILON = 1.0


@query(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS true_n FROM documents
      GROUP BY lang
    ), u AS (
      SELECT lang, true_n,
             (((ascii(lang[1:1]) * 256 + ascii(lang[2:2])) * 48271)
              % 999983) / 999983.0 AS u
      FROM g
    )
    SELECT lang, true_n,
           round(true_n
                 - (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                   * (1.0 / {DP_EPSILON})
                   * ln(1 - 2 * abs(u - 0.5)), 3) AS noisy_n,
           CAST({DP_EPSILON} AS DOUBLE) AS epsilon
    FROM u ORDER BY lang
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private group counts: Laplace(1/epsilon) noise on
    each per-language count (sensitivity 1 for a count query), the
    mechanism behind every private statistics release. The 'noise'
    draw here is a DETERMINISTIC arithmetic LCG on the group key so
    the oracle reproduces it bit-for-bit — the audit form; a real
    release swaps the draw for a secure RNG and DROPS the true_n
    column, changing nothing else in the plan.

    Scale: one keyed agg with map-side combine; the noise transform is
    a per-row expression on the langs-sized result. Epsilon composes
    additively across released queries — the accountant tracks this
    column."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    g = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    k = (F.ascii(F.substring("lang", 1, 1)) * 256 + F.ascii(F.substring("lang", 2, 1)))
    u = (k * 48271 % 999983) / F.lit(999983.0)
    lap = (
        F.when(u >= 0.5, F.lit(1)).otherwise(F.lit(-1))
        * F.lit(1.0 / DP_EPSILON)
        * F.log(1 - 2 * F.abs(u - F.lit(0.5)))
    )
    return g.select(
        "lang", "true_n",
        rnd(F.col("true_n") - lap, 3).alias("noisy_n"),
        F.lit(DP_EPSILON).alias("epsilon"),
    ).orderBy("lang")


@query(
    "q_quality_band_mix",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(lower(text), ' ')))
                  AS DOUBLE) / len(string_split(lower(text), ' ')) AS score
      FROM documents
    ), r AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER () AS n
      FROM s
    ), banded AS (
      SELECT doc_id,
             CASE WHEN rn * 3 <= n THEN 'head'
                  WHEN rn * 3 <= 2 * n THEN 'middle'
                  ELSE 'tail' END AS band,
             (doc_id * 48271 % 999983) / 999983.0 AS u
      FROM r
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u < (CASE band WHEN 'head' THEN 1.0
                                             WHEN 'middle' THEN 0.5
                                             ELSE 0.1 END)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN u < (CASE band WHEN 'head' THEN 1.0
                                             WHEN 'middle' THEN 0.5
                                             ELSE 0.1 END)
                         THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q_quality_band_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-banded mixture (the FineWeb/RefinedWeb 'keep the head,
    thin the tail' curation step): rank documents by a quality signal,
    cut the corpus into head/middle/tail tertiles, and keep each band
    at a different rate (1.0 / 0.5 / 0.1) via a deterministic per-doc
    draw. The kept-id checksum makes the exact membership
    hash-verifiable, not just the counts.

    Scale: tertile assignment uses global_sort_ranks (range partition,
    no single-task window) + a 1-row broadcast total; the keep
    decision is a map-side arithmetic draw — same LCG discipline as
    q_negative_sampling. One range shuffle total."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    docs = widen(load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    s = docs.select(
        "doc_id",
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("score"),
        (-(F.size(F.array_distinct(w)).cast("double") / F.size(w))).alias(
            "neg_score"
        ),
    )
    ranked = global_sort_ranks(s, ["neg_score", "doc_id"])
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    banded = ranked.join(n).select(
        "doc_id",
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("band"),
        ((F.col("doc_id") * 48271 % 999983) / F.lit(999983.0)).alias("u"),
    )
    rate = (
        F.when(F.col("band") == "head", 1.0)
        .when(F.col("band") == "middle", 0.5)
        .otherwise(0.1)
    )
    keep = F.col("u") < rate
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(keep, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .orderBy("band")
    )


@query(
    "q_budget_allocation",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS avail_tokens,
             avg(CAST(len(list_distinct(string_split(lower(text), ' ')))
                      AS DOUBLE)
                 / len(string_split(lower(text), ' '))) AS quality
      FROM documents GROUP BY source
    ), b AS (
      SELECT CAST(sum(avail_tokens) // 2 AS BIGINT) AS budget FROM s
    ), ranked AS (
      SELECT source, avail_tokens, quality,
             coalesce(CAST(sum(avail_tokens) OVER (
               ORDER BY quality DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS cum_before
      FROM s
    )
    SELECT source, avail_tokens, round(quality, 6) AS quality,
           CAST(greatest(0, least(avail_tokens, budget - cum_before))
                AS BIGINT) AS take_tokens
    FROM ranked, b
    ORDER BY quality DESC, source
    """,
)
def q_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources (greedy quality fill):
    rank sources by mean quality, then fill a half-corpus token
    budget best-first, truncating the marginal source — the knapsack-
    lite decision every curated-mixture build makes when compute
    bounds the token count. Integer token arithmetic end-to-end, so
    the allocation is exactly reproducible.

    Scale: per-source stats are one keyed agg; the allocation runs
    entirely on the sources-sized table (cumulative window over ~20
    rows) with the budget as a 1-row broadcast. The corpus is read
    once."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    s = docs.groupBy("source").agg(
        F.sum(F.size(w)).cast("bigint").alias("avail_tokens"),
        F.avg(F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias(
            "quality"
        ),
    )
    b = s.agg((F.sum("avail_tokens") / 2).cast("bigint").alias("budget"))
    from pyspark.sql import Window as W

    ow = W.orderBy(F.col("quality").desc(), "source").rowsBetween(
        W.unboundedPreceding, -1
    )
    ranked = s.withColumn(
        "cum_before",
        F.coalesce(F.sum("avail_tokens").over(ow), F.lit(0)).cast("bigint"),
    )
    return (
        ranked.join(b)
        .select(
            "source", "avail_tokens",
            rnd("quality", 6).alias("quality"),
            F.greatest(
                F.lit(0),
                F.least(
                    F.col("avail_tokens"), F.col("budget") - F.col("cum_before")
                ),
            )
            .cast("bigint")
            .alias("take_tokens"),
        )
        .orderBy(F.col("quality").desc(), "source")
    )


@query(
    "q_calibration_curve",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score,
             (len(w) >= 40 AND list_contains(w, 'the')) AS label
      FROM t
    ), binned AS (
      SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             score, label
      FROM scored
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CASE WHEN label THEN 1.0 ELSE 0.0 END), 6)
               AS frac_positive
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality signal q_filter_eval_auc
    ranks: decile-binned mean score vs observed positive rate. AUC
    measures ordering; calibration measures whether the score VALUE
    means what it says — a filter cut at '0.7' only behaves as
    intended if the 0.7 bin is ~70% positive. Miscalibrated scores
    get a Platt/isotonic fit before corpus-wide thresholds are set.

    Scale: score and bin are map-side expressions; the curve is one
    keyed agg over 10 bins. Corpus read once."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    scored = docs.select(
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("score"),
        ((F.size(w) >= 40) & F.array_contains(w, "the")).alias("label"),
    )
    return (
        scored.select(
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9)).alias(
                "bin"
            ),
            "score",
            "label",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rnd(F.avg("score"), 6).alias("mean_score"),
            rnd(
                F.avg(F.when(F.col("label"), 1.0).otherwise(0.0)), 6
            ).alias("frac_positive"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Weighted reservoir sampling, A-ES (r9). Uniform reservoir sampling
# (q_reservoir_sample) ignores importance; a curation pipeline wants
# "sample documents proportional to quality/length weight WITHOUT
# replacement" in one distributed pass. Efraimidis & Spirakis (2006):
# key_i = u_i^(1/w_i) (equivalently ln(u_i)/w_i for ranking), take
# the top-k keys — exactly a weighted without-replacement draw.
# --------------------------------------------------------------------------
WRS_K = 40


@query(
    "q_weighted_reservoir",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
             (((doc_id * 1103515245 + 12345) % 2147483647) + 2147483647)
               % 2147483647 AS lcg
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, w,
             ln((lcg + 1.0) / 2147483649.0) / w AS k
      FROM d
    )
    SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT)
             AS draw_rank,
           doc_id, CAST(w AS BIGINT) AS weight,
           round(k, 9) AS key
    FROM keyed
    QUALIFY draw_rank <= {WRS_K}
    ORDER BY draw_rank
    """,
)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted without-replacement sample (A-ES, Efraimidis
    & Spirakis 2006): each document draws u from a doc_id-seeded LCG
    (engine-portable integer arithmetic — builtin RNGs never match
    across engines), forms key = ln(u)/w with w = n_chars, and the
    top-{WRS_K} keys ARE the weighted draw. Longer documents are
    proportionally more likely to be picked, yet no document repeats.

    Scale: keys are computed map-side; top-k by key is a
    TakeOrderedAndProject (per-partition heap + k-row merge at the
    driver), so the corpus never globally sorts and never shuffles.
    The (+M)%M double-mod keeps the LCG non-negative under both
    engines' signed % semantics; +1 in the numerator keeps u > 0 so
    ln is finite."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("double").alias("w"),
            (
                (
                    (F.col("doc_id") * F.lit(1103515245) + F.lit(12345))
                    % F.lit(2147483647)
                    + F.lit(2147483647)
                )
                % F.lit(2147483647)
            ).alias("lcg"),
        )
    )
    keyed = d.select(
        "doc_id",
        "w",
        (F.log((F.col("lcg") + 1.0) / 2147483649.0) / F.col("w")).alias("k"),
    )
    from pyspark.sql import Window as W

    # orderBy + limit compiles to TakeOrderedAndProject (per-partition
    # heap, k-row driver merge) — the scalable top-k. The ranking
    # window then runs over the already-bounded k-row result only.
    top = keyed.orderBy(F.col("k").desc(), "doc_id").limit(WRS_K)
    return (
        top.withColumn(
            "draw_rank",
            F.row_number().over(W.orderBy(F.col("k").desc(), "doc_id")),
        )
        .select(
            F.col("draw_rank").cast("bigint").alias("draw_rank"),
            "doc_id",
            F.col("w").cast("bigint").alias("weight"),
            rnd("k", 9).alias("key"),
        )
        .orderBy("draw_rank")
    )


# --------------------------------------------------------------------------
# Salted skew JOIN (r9). q_salted_agg salts a skewed AGGREGATION; the
# join-side twin replicates the small dimension across S salt slots
# and routes each fact row to one slot, splitting a hot join key
# across S tasks. The oracle is the PLAIN join: salting must be
# result-invariant (every fact row meets its full dim row in exactly
# one slot), which the value-hash compare proves — the same
# equivalence discipline as q_join_strategy_equivalence.
# --------------------------------------------------------------------------
SALT_SLOTS = 8


@query(
    "q_skew_join_salted",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation via a MANUALLY SALTED customer join: the
    customer dim is replicated into 8 salt slots (explode over
    sequence 0..7) and every order deterministically picks slot
    o_orderkey % 8, so a hot customer's orders spread across 8 tasks
    instead of one straggler. The oracle is the unsalted join — the
    hash compare proves salting never changes results, only
    distribution. At 100 TB this is the manual form of what AQE skew
    mitigation does adaptively; the manual form also covers
    aggregation keys AQE cannot split.

    Scale: dim replication multiplies the SMALL side only (8x
    customer); the fact side gains one map-side column. The join is
    a plain equi-join on (custkey, salt) — co-partitioned, no
    broadcast required when the dim outgrows the broadcast
    threshold."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice",
        (F.col("o_orderkey") % SALT_SLOTS).alias("salt"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_SLOTS - 1)))
        )
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    joined = orders.join(
        cust,
        (orders.o_custkey == cust.c_custkey)
        & (orders.salt == cust.salt.cast("long")),
    ).join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Exponential-mechanism top-k selection (r9). q_dp_noisy_counts
# releases noisy VALUES; selecting the top-k ITEMS privately needs
# the exponential mechanism, realized as the Gumbel-max trick:
# pick argmax of eps*u/(2*sensitivity) + Gumbel noise. Deterministic
# audit form: the Gumbel draw comes from an arithmetic LCG on the
# item key, reproducible bit-for-bit in both engines.
# --------------------------------------------------------------------------
DP_TOPK_K = 5
DP_TOPK_EPS = 0.5


@query(
    "q_dp_exponential_topk",
    oracle=f"""
    WITH g AS (
      SELECT p_brand, CAST(count(*) AS DOUBLE) AS u FROM part
      GROUP BY p_brand
    ), keyed AS (
      SELECT p_brand, u,
             (ascii(substr(p_brand, 7, 1)) * 256
              + ascii(substr(p_brand, 8, 1))) * 48271 % 999983 AS lk
      FROM g
    ), noised AS (
      SELECT p_brand, u,
             -ln(-ln((lk + 1.0) / 1000000.0)) AS gumbel,
             {DP_TOPK_EPS} * u / 2.0
               - ln(-ln((lk + 1.0) / 1000000.0)) AS noisy_score
      FROM keyed
    )
    SELECT CAST(row_number() OVER (ORDER BY noisy_score DESC, p_brand)
                AS BIGINT) AS selection_rank,
           p_brand,
           CAST(u AS BIGINT) AS true_count,
           CAST(row_number() OVER (ORDER BY u DESC, p_brand) AS BIGINT)
             AS true_rank,
           round(noisy_score, 6) AS noisy_score
    FROM noised
    QUALIFY selection_rank <= {DP_TOPK_K}
    ORDER BY selection_rank
    """,
)
def q_dp_exponential_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private top-5 part brands by count via the
    exponential mechanism in its Gumbel-max form: score = eps*u/2 +
    Gumbel (count utility has sensitivity 1); taking the k highest
    noisy scores is exactly k sequential exponential-mechanism draws
    (Durfee & Rogers 2019). The Gumbel draw is a deterministic LCG on
    the brand key so the oracle reproduces the release bit-for-bit —
    swap in a secure RNG and drop true_count/true_rank for a real
    release, nothing else changes.

    Scale: one keyed count agg (map-side combine), per-row noise on
    the brand-cardinality result, and a top-k over ~25 rows. Emits
    the selected brands with their true rank so the audit sees
    where privacy reordered the truth."""
    g = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("double").alias("u"))
    )
    lk = (
        (
            F.ascii(F.substring("p_brand", 7, 1)) * 256
            + F.ascii(F.substring("p_brand", 8, 1))
        )
        * 48271
        % 999983
    )
    gumbel = -F.log(-F.log((lk + 1.0) / 1000000.0))
    noised = g.select(
        "p_brand",
        "u",
        (F.lit(DP_TOPK_EPS) * F.col("u") / 2.0 + gumbel).alias("noisy_score"),
    )
    from pyspark.sql import Window as W

    top = noised.orderBy(F.col("noisy_score").desc(), "p_brand").limit(
        DP_TOPK_K
    )
    true_rank = noised.select(
        "p_brand",
        F.row_number()
        .over(W.orderBy(F.col("u").desc(), "p_brand"))
        .alias("true_rank"),
    )
    return (
        top.withColumn(
            "selection_rank",
            F.row_number().over(
                W.orderBy(F.col("noisy_score").desc(), "p_brand")
            ),
        )
        .join(F.broadcast(true_rank), "p_brand")
        .select(
            F.col("selection_rank").cast("bigint").alias("selection_rank"),
            "p_brand",
            F.col("u").cast("bigint").alias("true_count"),
            F.col("true_rank").cast("bigint").alias("true_rank"),
            rnd("noisy_score", 6).alias("noisy_score"),
        )
        .orderBy("selection_rank")
    )


# --------------------------------------------------------------------------
# Isotonic calibration via PAVA's minimax identity (r9). The
# reliability diagram (q_calibration_curve) DESCRIBES miscalibration;
# isotonic regression FIXES it — the standard non-parametric
# calibrator. PAVA itself is a sequential pool-merging loop, but its
# closed form fit_k = max_{i<=k} min_{j>=k} weighted-mean(pos, i..j)
# is pure relational algebra over the BIN table (10 rows), so both
# engines evaluate the identical O(bins^3) enumeration with exact
# integer interval sums — one division per (i,j), no float
# accumulation anywhere.
# --------------------------------------------------------------------------
@query(
    "q_isotonic_calibration",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score,
             (len(w) >= 40 AND list_contains(w, 'the')) AS label
      FROM t
    ), b AS (
      SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ), iv AS (
      SELECT i.bin AS i, j.bin AS j,
             CAST(sum(m.pos) AS DOUBLE) / sum(m.n) AS mean_ij
      FROM b i JOIN b j ON i.bin <= j.bin
      JOIN b m ON m.bin BETWEEN i.bin AND j.bin
      GROUP BY i.bin, j.bin
    ), inner_min AS (
      SELECT k.bin AS bin, iv.i, min(iv.mean_ij) AS mn
      FROM b k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
      GROUP BY k.bin, iv.i
    ), fit AS (
      SELECT bin, max(mn) AS iso FROM inner_min GROUP BY bin
    )
    SELECT b.bin, b.n,
           round(CAST(b.pos AS DOUBLE) / b.n, 6) AS frac_positive,
           round(f.iso, 6) AS isotonic_rate
    FROM b JOIN fit f ON f.bin = b.bin
    ORDER BY b.bin
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the
    lexical-diversity quality score against the document label, via
    the PAVA minimax identity fit_k = max over i<=k of min over j>=k
    of the weighted positive rate on bins i..j. Emits the raw and
    calibrated rate per score decile.

    Scale: the corpus collapses to 10 (bin, n, pos) rows in one
    keyed agg; the cubic enumeration runs on that bounded bin table
    only (O(bins^3) ~ 1000 rows at any corpus size). Interval means
    are single divisions of exact BIGINT sums, and min/max of
    identical doubles carries no merge-order sensitivity — the
    strongest cross-engine parity class."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    scored = docs.select(
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias(
            "score"
        ),
        (
            (F.size(w) >= 40) & F.array_contains(w, "the")
        ).alias("label"),
    )
    b = (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("bigint")
            .alias("pos"),
        )
        .localCheckpoint(eager=True)
    )
    bi = b.select(F.col("bin").alias("i"))
    bj = b.select(F.col("bin").alias("j"))
    bm = b.select(F.col("bin").alias("m"), "n", "pos")
    iv = (
        bi.join(bj, F.col("i") <= F.col("j"))
        .join(bm, (F.col("m") >= F.col("i")) & (F.col("m") <= F.col("j")))
        .groupBy("i", "j")
        .agg(
            (F.sum("pos").cast("double") / F.sum("n")).alias("mean_ij")
        )
    )
    bk = b.select(F.col("bin").alias("k"))
    inner_min = (
        bk.join(iv, (iv.i <= F.col("k")) & (iv.j >= F.col("k")))
        .groupBy("k", "i")
        .agg(F.min("mean_ij").alias("mn"))
    )
    fit = inner_min.groupBy("k").agg(F.max("mn").alias("iso"))
    return (
        b.join(fit, b.bin == fit.k)
        .select(
            "bin",
            "n",
            rnd(F.col("pos").cast("double") / F.col("n"), 6).alias(
                "frac_positive"
            ),
            rnd("iso", 6).alias("isotonic_rate"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Priority sampling with the threshold estimator (r9, Duffield-Lund-
# Thorup 2007). q_weighted_reservoir draws a weighted sample;
# priority sampling additionally makes the sample a SUBSET-SUM
# ESTIMATOR: with priorities q_i = w_i / u_i, the top-k items with
# est_i = max(w_i, tau) (tau = the (k+1)-th priority) estimate any
# subset's total weight unbiasedly — the sketch a billing/monitoring
# pipeline keeps instead of the raw stream.
# --------------------------------------------------------------------------
_PRIO_K = 100


@query(
    "q_priority_sampling",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey AS k, o_totalprice AS w,
             (((o_orderkey * 1103515245 + 12345) % 2147483647)
              + 2147483647) % 2147483647 AS lcg
      FROM orders
    ), pr AS (
      SELECT k, w, w / ((lcg + 1.0) / 2147483649.0) AS prio,
             row_number() OVER (ORDER BY w / ((lcg + 1.0) / 2147483649.0)
                                DESC, k) AS rn
      FROM d
    ), tau AS (
      SELECT prio AS tau FROM pr WHERE rn = {_PRIO_K + 1}
    ), est AS (
      SELECT list_reduce(
               list_sort(list(CASE WHEN p.w > t.tau THEN p.w
                                   ELSE t.tau END)),
               (a, b) -> a + b) AS est_total,
             CAST(count(*) AS BIGINT) AS n_sample
      FROM pr p CROSS JOIN tau t WHERE p.rn <= {_PRIO_K}
    ), tot AS (
      SELECT sum(o_totalprice) AS true_total FROM orders
    )
    SELECT e.n_sample, round(t.tau, 4) AS tau,
           round(o.true_total, 2) AS true_total,
           round(e.est_total, 2) AS est_total,
           round(abs(e.est_total - o.true_total) / o.true_total, 6)
             AS rel_error
    FROM est e CROSS JOIN tau t CROSS JOIN tot o
    """,
)
def q_priority_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sample of 100 orders weighted by total price (LCG
    uniforms keyed on the order key, priority w/u, threshold tau =
    the 101st priority) and its Duffield-Lund-Thorup subset-sum
    estimate max(w, tau) summed over the sample, compared to the
    true total.

    Scale: one scan computes priorities row-wise; the top-(k+1) is a
    TakeOrderedAndProject (no full sort); the estimator folds the
    100 sampled values through a sorted fold so the float sum is
    bit-identical on both engines. The true total is the usual
    map-side-combined aggregate."""
    d = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("w"),
        (
            (
                (F.col("o_orderkey") * 1103515245 + 12345) % 2147483647
                + 2147483647
            )
            % 2147483647
        ).alias("lcg"),
    )
    pr = d.select(
        "k",
        "w",
        (F.col("w") / ((F.col("lcg") + 1.0) / 2147483649.0)).alias("prio"),
    )
    topk1 = (
        pr.orderBy(F.col("prio").desc(), "k")
        .limit(_PRIO_K + 1)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("prio").desc(), "k")
            ),
        )
        .localCheckpoint(eager=True)
    )
    tau = topk1.filter(F.col("rn") == _PRIO_K + 1).select(
        F.col("prio").alias("tau")
    )
    est = (
        topk1.filter(F.col("rn") <= _PRIO_K)
        .crossJoin(tau)
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("w") > F.col("tau"), F.col("w")).otherwise(
                            F.col("tau")
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("est_total"),
            F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        )
    )
    tot = load_table(spark, sf_dir, "orders").agg(
        F.sum("o_totalprice").alias("true_total")
    )
    return (
        est.crossJoin(F.broadcast(tau))
        .crossJoin(tot)
        .select(
            "n_sample",
            rnd("tau", 4).alias("tau"),
            rnd("true_total", 2).alias("true_total"),
            rnd("est_total", 2).alias("est_total"),
            rnd(
                F.abs(F.col("est_total") - F.col("true_total"))
                / F.col("true_total"),
                6,
            ).alias("rel_error"),
        )
    )


# --------------------------------------------------------------------------
# Max-min fair (water-filling) budget allocation (r9). The greedy
# quality fill (q_budget_allocation) starves low-quality sources
# entirely; a diversity-preserving mixture instead allocates
# max-min-fairly: every source gets min(demand, lambda) with one
# water level lambda chosen so the budget is exactly spent. The
# closed form needs only the demand table sorted ascending — fully
# served sources are the prefix where demand fits under its running
# fair share — so the allocation is one window pass over the
# sources-sized table.
# --------------------------------------------------------------------------
@query(
    "q_water_filling",
    oracle="""
    WITH d AS (
      SELECT source, CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS demand
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(demand) * 6 // 10 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS k
      FROM d
    ), ranked AS (
      SELECT d.source, d.demand, t.budget, t.k,
             row_number() OVER (ORDER BY d.demand, d.source) AS i,
             coalesce(sum(d.demand) OVER (ORDER BY d.demand, d.source
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS cum_before
      FROM d CROSS JOIN tot t
    ), lam AS (
      SELECT i, CAST(budget - cum_before AS DOUBLE) / (k - i + 1)
               AS lambda_i,
             demand
      FROM ranked
    ), cutoff AS (
      SELECT coalesce(min(i), 2147483647) AS istar
      FROM lam WHERE demand > lambda_i
    ), level AS (
      SELECT coalesce(max(l.lambda_i), 0.0) AS lam
      FROM lam l CROSS JOIN cutoff c WHERE l.i = c.istar
    )
    SELECT r.source, r.demand,
           round(CASE WHEN r.i < c.istar THEN CAST(r.demand AS DOUBLE)
                      ELSE v.lam END, 2) AS allocated,
           r.i < c.istar AS fully_served
    FROM ranked r CROSS JOIN cutoff c CROSS JOIN level v
    ORDER BY r.source
    """,
)
def q_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources (budget =
    60% of total demand): sources whose demand fits under their
    running fair share are fully served; everyone else gets the
    common water level lambda. The max-min-fair counterpart to the
    quality-greedy q_budget_allocation — no source is starved.

    Scale: demands are one keyed agg over the corpus; the water
    level comes from a single ascending-demand window pass over the
    sources-sized table (exact BIGINT cumulative sums; lambda is one
    double division), and the scalar level broadcasts back onto the
    source rows."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("bigint")
        .alias("demand")
    )
    tot = d.agg(
        F.floor(F.sum("demand") * 6 / 10).cast("bigint").alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = Window.orderBy("demand", "source")
    ranked = (
        d.crossJoin(tot)
        .withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("demand").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "lambda_i",
            (F.col("budget") - F.col("cum_before")).cast("double")
            / (F.col("k") - F.col("i") + 1),
        )
        .localCheckpoint(eager=True)
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.min(F.when(F.col("demand") > F.col("lambda_i"), F.col("i"))),
            F.lit(2147483647),
        ).alias("istar")
    )
    level = (
        ranked.crossJoin(cutoff)
        .filter(F.col("i") == F.col("istar"))
        .agg(F.coalesce(F.max("lambda_i"), F.lit(0.0)).alias("lam"))
    )
    return (
        ranked.crossJoin(cutoff)
        .crossJoin(level)
        .select(
            "source",
            "demand",
            rnd(
                F.when(
                    F.col("i") < F.col("istar"), F.col("demand").cast("double")
                ).otherwise(F.col("lam")),
                2,
            ).alias("allocated"),
            (F.col("i") < F.col("istar")).alias("fully_served"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Brier score with the Murphy decomposition (r9). The calibration
# curve (q_calibration_curve) and isotonic fit (q_isotonic_
# calibration) show WHERE the quality score is miscalibrated; the
# Brier decomposition says HOW MUCH of the total squared error is
# miscalibration (reliability, fixable by recalibration) vs ranking
# power (resolution) vs irreducible base-rate noise (uncertainty):
# brier = REL - RES + UNC over the same score deciles.
# --------------------------------------------------------------------------
@query(
    "q_brier_decomposition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score,
             CASE WHEN len(w) >= 40 AND list_contains(w, 'the')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM t
    ), b AS (
      SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             avg(score) AS p_bar,
             avg(y) AS y_bar,
             sum((score - y) * (score - y)) AS sq
      FROM scored GROUP BY 1
    ), g AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             sum(y_bar * n) / sum(n) AS y_all,
             sum(sq) / sum(n) AS brier,
             sum(n * (p_bar - y_bar) * (p_bar - y_bar)) / sum(n) AS rel
      FROM b
    )
    SELECT nn AS n_docs,
           round(brier, 6) AS brier,
           round(rel, 6) AS reliability,
           round((SELECT sum(n * (y_bar - g.y_all) * (y_bar - g.y_all))
                  FROM b) / nn, 6) AS resolution,
           round(y_all * (1 - y_all), 6) AS uncertainty,
           round(rel
                 - (SELECT sum(n * (y_bar - g.y_all) * (y_bar - g.y_all))
                    FROM b) / nn
                 + y_all * (1 - y_all), 6) AS decomposed_brier
    FROM g
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the lexical-diversity quality score against the
    document label, decomposed over score deciles into reliability
    (miscalibration), resolution (ranking power), and uncertainty
    (base-rate noise); decomposed_brier = REL - RES + UNC checks the
    Murphy identity up to within-bin score variance.

    Scale: one corpus pass collapses to 10 (n, mean-score,
    positive-rate, squared-error) rows via a keyed agg with map-side
    combine; the decomposition is arithmetic on that bounded table
    plus one grand mean."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    scored = docs.select(
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias(
            "score"
        ),
        F.when(
            (F.size(w) >= 40) & F.array_contains(w, "the"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    )
    b = (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("score").alias("p_bar"),
            F.avg("y").alias("y_bar"),
            F.sum(
                (F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))
            ).alias("sq"),
        )
        .localCheckpoint(eager=True)
    )
    g = b.agg(
        F.sum("n").cast("bigint").alias("nn"),
        (F.sum(F.col("y_bar") * F.col("n")) / F.sum("n")).alias("y_all"),
        (F.sum("sq") / F.sum("n")).alias("brier"),
        (
            F.sum(
                F.col("n")
                * (F.col("p_bar") - F.col("y_bar"))
                * (F.col("p_bar") - F.col("y_bar"))
            )
            / F.sum("n")
        ).alias("rel"),
    )
    res = (
        b.crossJoin(g.select("y_all"))
        .agg(
            F.sum(
                F.col("n")
                * (F.col("y_bar") - F.col("y_all"))
                * (F.col("y_bar") - F.col("y_all"))
            ).alias("res_num")
        )
    )
    return (
        g.crossJoin(res)
        .select(
            F.col("nn").alias("n_docs"),
            rnd("brier", 6).alias("brier"),
            rnd("rel", 6).alias("reliability"),
            rnd(F.col("res_num") / F.col("nn"), 6).alias("resolution"),
            rnd(F.col("y_all") * (1 - F.col("y_all")), 6).alias(
                "uncertainty"
            ),
            rnd(
                F.col("rel")
                - F.col("res_num") / F.col("nn")
                + F.col("y_all") * (1 - F.col("y_all")),
                6,
            ).alias("decomposed_brier"),
        )
    )


# --------------------------------------------------------------------------
# 0/1 knapsack curation frontier (r9). Greedy quality fill
# (q_budget_allocation) and water-filling (q_water_filling) are
# heuristics; the OPTIMAL take-whole-sources-under-a-token-budget
# answer is the 0/1 knapsack, and with ~20 sources and a coarse
# 24-cell budget grid the exact DP is tiny. The DP table is a
# BIGINT array folded item-by-item (Spark F.aggregate with an
# array accumulator; DuckDB a recursive CTE carrying a LIST column,
# the q_holt_winters pattern — single-type LIST accumulators are
# safe, multi-field STRUCTs are not). Everything is exact integer
# arithmetic: weights are ceil-scaled into grid units identically on
# both engines.
# --------------------------------------------------------------------------
_KNAP_CELLS = 24


@query(
    "q_knapsack_frontier",
    oracle=f"""
    WITH RECURSIVE src AS (
      SELECT source,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS tokens,
             CAST(sum(CASE WHEN len(string_split(lower(text), ' ')) >= 90
                           THEN 1 ELSE 0 END) AS BIGINT) AS good_docs
      FROM documents GROUP BY source
    ), budget AS (
      SELECT CAST(sum(tokens) * 6 // 10 AS BIGINT) AS b,
             CAST((sum(tokens) * 6 // 10 + {_KNAP_CELLS} - 1)
                  // {_KNAP_CELLS} AS BIGINT) AS unit
      FROM src
    ), items AS (
      SELECT row_number() OVER (ORDER BY s.source) AS rn,
             CAST((s.tokens + b.unit - 1) // b.unit AS BIGINT) AS wu,
             s.good_docs AS v
      FROM src s CROSS JOIN budget b
    ), dp(rn, best) AS (
      SELECT CAST(0 AS BIGINT),
             [CAST(0 AS BIGINT) for g in range({_KNAP_CELLS} + 1)]
      UNION ALL
      SELECT i.rn,
             [greatest(d.best[g + 1],
                       CASE WHEN g >= i.wu
                            THEN d.best[g - i.wu + 1] + i.v
                            ELSE CAST(0 AS BIGINT) END)
              for g in range({_KNAP_CELLS} + 1)]
      FROM dp d JOIN items i ON i.rn = d.rn + 1
    ), last AS (
      SELECT best FROM dp WHERE rn = (SELECT max(rn) FROM dp)
    )
    SELECT CAST(g AS BIGINT) AS budget_units,
           CAST(g * b.unit AS BIGINT) AS budget_tokens,
           CAST(l.best[CAST(g AS INT) + 1] AS BIGINT) AS best_good_docs
    FROM last l CROSS JOIN budget b,
         unnest(range({_KNAP_CELLS} + 1)) t(g)
    ORDER BY budget_units
    """,
)
def q_knapsack_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 0/1 knapsack frontier for whole-source curation: take
    whole sources to maximize good documents (>= 90 words) under a
    token budget, reported as the optimal value at every
    budget-grid cell (unit = ceil(60%-budget / 24)) — the optimality
    reference the greedy and water-filling allocators are judged
    against.

    Scale: sources collapse to one (tokens, good_docs) row each; the
    DP folds the 20-item list over a 25-cell BIGINT array — driver-
    trivial state, one corpus pass, everything exact integers so the
    engines agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    nw = F.size(F.split(F.lower(F.col("text")), " "))
    src = docs.groupBy("source").agg(
        F.sum(nw).cast("bigint").alias("tokens"),
        F.sum(F.when(nw >= 90, 1).otherwise(0))
        .cast("bigint")
        .alias("good_docs"),
    )
    budget = src.agg(
        F.floor(F.sum("tokens") * 6 / 10).cast("bigint").alias("b")
    ).select(
        "b",
        F.floor(
            (F.col("b") + _KNAP_CELLS - 1) / _KNAP_CELLS
        ).cast("bigint").alias("unit"),
    )
    items = (
        src.crossJoin(budget)
        .select(
            "source",
            F.floor(
                (F.col("tokens") + F.col("unit") - 1) / F.col("unit")
            ).cast("bigint").alias("wu"),
            F.col("good_docs").alias("v"),
        )
    )
    G = _KNAP_CELLS
    folded = items.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "wu", "v"))),
            F.array_repeat(F.lit(0).cast("bigint"), G + 1),
            lambda best, it: F.transform(
                F.sequence(F.lit(0), F.lit(G)),
                lambda g: F.greatest(
                    F.element_at(best, g.cast("int") + 1),
                    F.when(
                        g >= it["wu"],
                        F.element_at(
                            best, (g - it["wu"]).cast("int") + 1
                        )
                        + it["v"],
                    ).otherwise(F.lit(0).cast("bigint")),
                ),
            ),
        ).alias("best")
    )
    return (
        folded.crossJoin(budget)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(G))).alias("g"),
            "best",
            "unit",
        )
        .select(
            F.col("g").cast("bigint").alias("budget_units"),
            (F.col("g") * F.col("unit")).cast("bigint").alias(
                "budget_tokens"
            ),
            F.element_at("best", F.col("g").cast("int") + 1)
            .cast("bigint")
            .alias("best_good_docs"),
        )
        .orderBy("budget_units")
    )


# ---------------------------------------------------------------------------
# Average precision / PR-curve summary (r9). q_filter_eval_auc reports
# ROC-AUC, which is insensitive to class imbalance; ranked corpus
# filters are evaluated on the PRECISION-RECALL side, where average
# precision (the area under the PR curve, computed as the mean of
# precision@rank over the positive ranks) is the standard single
# number. AP has a pure rank-algebra form: with documents ranked by
# (score DESC, doc_id) and positives ranked among themselves in the
# same order, precision at the k-th positive is pos_rank/global_rank —
# so AP = mean(pos_rank_i / rank_i) over positives.
# ---------------------------------------------------------------------------
@query(
    "q_average_precision",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS score,
             (len(w) >= 40 AND list_contains(w, 'the')) AS label
      FROM t
    ), ranked AS (
      SELECT doc_id, label,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ), pos AS (
      SELECT rn, row_number() OVER (ORDER BY rn) AS pr
      FROM ranked WHERE label
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pos,
             list_reduce(list_sort(list(CAST(pr AS DOUBLE) / rn)),
                         (a, b) -> a + b) AS s
      FROM pos
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM ranked
    ), rp AS (
      SELECT CAST(count(*) AS BIGINT) AS hits_at_npos
      FROM pos, agg WHERE pos.rn <= agg.n_pos
    ), p50 AS (
      SELECT CAST(count(*) AS BIGINT) AS hits_at_50
      FROM pos WHERE rn <= 50
    )
    SELECT n, n_pos,
           round(s / n_pos, 6) AS average_precision,
           round(hits_at_npos / CAST(n_pos AS DOUBLE), 6) AS r_precision,
           round(hits_at_50 / 50.0, 6) AS p_at_50
    FROM agg, tot, rp, p50
    """,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the distinct-word-ratio quality signal
    against the length + stop-word reference label (the same
    score/label pair as q_filter_eval_auc, so AUC and AP read off the
    same ranking), plus R-precision (precision at rank n_pos) and
    precision@50.

    Cross-engine exactness: both rank families are row_numbers over
    the (score DESC, doc_id) total order; each precision@positive is
    an exact integer ratio, and the AP sum is a sorted fold so the
    float total is bit-identical regardless of partitioning.

    Scale: ranks come from global_sort_ranks (range-partition +
    per-partition row_number + broadcast offsets — no single-task
    window) applied twice, full table then positives; the AP fold
    collects one float per POSITIVE onto the final row, fine at any
    test-set size a human labelled — for corpus-wide labels, bucket
    by score quantile and fold per-bucket partial sums instead."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    scored = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.split(F.lower("text"), " ").alias("w")
        )
        .select(
            "doc_id",
            (
                F.size(F.array_distinct("w")).cast("double")
                / F.size("w")
            ).alias("score"),
            (
                (F.size("w") >= 40)
                & F.array_contains("w", "the")
            ).alias("label"),
        )
        .withColumn("neg_score", -F.col("score"))
    )
    # The five downstream branches (pos/agg/tot/rp/p50) would each
    # re-derive the tokenize+rank pipeline; freeze the rank table once
    # (three narrow columns, eval-set-sized) so the scan runs once.
    ranked = global_sort_ranks(scored, ["neg_score", "doc_id"]).select(
        "doc_id", "label", "rn"
    ).localCheckpoint(eager=True)
    pos = global_sort_ranks(
        ranked.filter("label").select(F.col("rn").alias("grn")), ["grn"]
    ).withColumnRenamed("rn", "pr").localCheckpoint(eager=True)
    agg = pos.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.col("pr").cast("double") / F.col("grn"))
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("s"),
    )
    tot = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rp = (
        pos.crossJoin(agg.select("n_pos"))
        .filter(F.col("grn") <= F.col("n_pos"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits_at_npos"))
    )
    p50 = pos.filter(F.col("grn") <= 50).agg(
        F.count(F.lit(1)).cast("bigint").alias("hits_at_50")
    )
    return (
        agg.crossJoin(tot)
        .crossJoin(rp)
        .crossJoin(p50)
        .select(
            "n",
            "n_pos",
            rnd(F.col("s") / F.col("n_pos"), 6).alias("average_precision"),
            rnd(
                F.col("hits_at_npos") / F.col("n_pos").cast("double"), 6
            ).alias("r_precision"),
            rnd(F.col("hits_at_50") / 50.0, 6).alias("p_at_50"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal packing: modality composition of packed training sequences
# ---------------------------------------------------------------------------

_IMG_PATCH_TOKENS = 64  # fixed vision-patch block per attached image


@query(
    "q_multimodal_pack_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_text,
             CAST(CASE WHEN doc_id % 3 = 0 THEN {_IMG_PATCH_TOKENS}
                       ELSE 0 END AS BIGINT) AS n_img
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_text, n_img,
             sum(n_text + n_img) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
               - (n_text + n_img) AS st
      FROM tok
    ), spans AS (
      SELECT lang, doc_id,
             u.s.modality_no AS modality_no, u.s.lo AS lo, u.s.hi AS hi
      FROM packed,
           unnest([struct_pack(modality_no := 1, lo := st,
                               hi := st + n_text),
                   struct_pack(modality_no := 2, lo := st + n_text,
                               hi := st + n_text + n_img)]) AS u(s)
      WHERE u.s.hi > u.s.lo
    ), cut AS (
      SELECT lang, doc_id, modality_no, lo, hi,
             unnest(range(CAST(lo // {PACK_BUDGET} AS BIGINT),
                          CAST((hi - 1) // {PACK_BUDGET} + 1 AS BIGINT)))
               AS seq_id
      FROM spans
    )
    SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(sum(CASE WHEN modality_no = 1 THEN
             least(hi, (seq_id + 1) * {PACK_BUDGET})
             - greatest(lo, seq_id * {PACK_BUDGET}) ELSE 0 END)
             AS BIGINT) AS text_tokens,
           CAST(sum(CASE WHEN modality_no = 2 THEN
             least(hi, (seq_id + 1) * {PACK_BUDGET})
             - greatest(lo, seq_id * {PACK_BUDGET}) ELSE 0 END)
             AS BIGINT) AS image_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM cut
    GROUP BY lang, seq_id
    ORDER BY lang, seq_id
    """,
)
def q_multimodal_pack_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality composition of packed multimodal training sequences:
    every third document carries a fixed 64-token vision-patch block
    (the deterministic stand-in this repo's multimodal tier uses —
    a real pipeline joins a media table for per-image patch counts;
    the packing algebra is identical), documents concatenate in
    stable doc_id order per language shard (the same straddling
    layout as q_sequence_packing), and each document contributes TWO
    spans — text then image — whose intersections with the 256-token
    sequence grid are summed per (lang, seq_id, modality). The output
    is the modality-balance audit a multimodal trainer runs before
    committing a mixture: sequences whose image fraction drifts from
    the corpus ratio indicate clumping in the pack order. All span
    algebra is exact BIGINT interval arithmetic; the per-lang running
    sum is grouped global_running_sums (range-partitioned on
    (lang, doc_id) — never one task per language), one explode bounded
    by spans-per-sequence — the same 100 TB shape as the text-only
    packing ops."""
    from sparrow_spark.operators.dedup import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    n_text = F.size(tokens(F.col("text"))).cast("bigint")
    n_img = (
        F.when(F.col("doc_id") % 3 == 0, _IMG_PATCH_TOKENS)
        .otherwise(0)
        .cast("bigint")
    )
    sized = docs.select(
        "doc_id",
        "lang",
        n_text.alias("n_text"),
        n_img.alias("n_img"),
        (n_text + n_img).alias("_tot"),
    )
    packed = (
        global_running_sums(sized, ["doc_id"], ["_tot"], reset_cols=["lang"])
        .withColumn("st", F.col("cum__tot") - F.col("_tot"))
        .drop("cum__tot", "_tot")
    )
    spans = packed.select(
        "lang",
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("modality_no"),
                    F.col("st").alias("lo"),
                    (F.col("st") + F.col("n_text")).alias("hi"),
                ),
                F.struct(
                    F.lit(2).alias("modality_no"),
                    (F.col("st") + F.col("n_text")).alias("lo"),
                    (F.col("st") + F.col("n_text") + F.col("n_img")).alias(
                        "hi"
                    ),
                ),
            )
        ).alias("s"),
    ).select(
        "lang", "doc_id", "s.modality_no", "s.lo", "s.hi"
    ).filter(F.col("hi") > F.col("lo"))
    cut = spans.select(
        "lang",
        "doc_id",
        "modality_no",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr(f"CAST(lo DIV {PACK_BUDGET} AS BIGINT)"),
                F.expr(f"CAST((hi - 1) DIV {PACK_BUDGET} AS BIGINT)"),
            )
        ).alias("seq_id"),
    )
    seg = F.least(
        F.col("hi"), (F.col("seq_id") + 1) * PACK_BUDGET
    ) - F.greatest(F.col("lo"), F.col("seq_id") * PACK_BUDGET)
    return (
        cut.groupBy("lang", "seq_id")
        .agg(
            F.sum(F.when(F.col("modality_no") == 1, seg).otherwise(0))
            .cast("bigint")
            .alias("text_tokens"),
            F.sum(F.when(F.col("modality_no") == 2, seg).otherwise(0))
            .cast("bigint")
            .alias("image_tokens"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy("lang", "seq_id")
    )


# ---------------------------------------------------------------------------
# Iterative proportional fitting (raking) of the lang x source table
# ---------------------------------------------------------------------------


@query(
    "q_ipf_raking",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_lang,
             CAST(count(DISTINCT source) AS BIGINT) AS n_src
      FROM cells
    ), w0 AS (
      SELECT lang, source, n, CAST(1.0 AS DOUBLE) AS w FROM cells
    ), r1 AS (
      SELECT w0.lang, w0.source, w0.n,
             w0.w * ((CAST(tot.total AS DOUBLE) / tot.n_lang)
                     / sum(w0.n * w0.w) OVER (PARTITION BY w0.lang)) AS w
      FROM w0, tot
    ), c1 AS (
      SELECT r1.lang, r1.source, r1.n,
             r1.w * ((CAST(tot.total AS DOUBLE) / tot.n_src)
                     / sum(r1.n * r1.w) OVER (PARTITION BY r1.source)) AS w
      FROM r1, tot
    ), r2 AS (
      SELECT c1.lang, c1.source, c1.n,
             c1.w * ((CAST(tot.total AS DOUBLE) / tot.n_lang)
                     / sum(c1.n * c1.w) OVER (PARTITION BY c1.lang)) AS w
      FROM c1, tot
    ), c2 AS (
      SELECT r2.lang, r2.source, r2.n,
             r2.w * ((CAST(tot.total AS DOUBLE) / tot.n_src)
                     / sum(r2.n * r2.w) OVER (PARTITION BY r2.source)) AS w
      FROM r2, tot
    )
    SELECT lang, source, n, round(w, 6) AS rake_weight,
           round(n * w, 4) AS raked_mass
    FROM c2 ORDER BY lang, source
    """,
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey-style raking (iterative proportional fitting, Deming &
    Stephan 1940) of the documents' lang x source contingency table
    to UNIFORM target marginals — the post-stratification weighting a
    curation team applies when the crawl over-represents some
    language or source: after two unrolled IPF rounds (row-scale,
    column-scale, twice) each cell carries a rake weight such that
    weighted language masses match total/|langs| and source masses
    approach total/|sources| (IPF converges geometrically; two
    rounds is the demonstration depth, and the final column pass
    makes source marginals exact). The corpus contributes ONE
    (lang, source)-keyed count; every IPF round is two windowed
    scalings over the |langs| x |sources| BOUNDED cell table — at
    100 TB the iteration cost is independent of corpus size, which
    is why raking scales where per-document reweighting loops do
    not. Weights are deterministic IEEE expressions over exact
    integer counts, identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).localCheckpoint()
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.countDistinct("lang").cast("bigint").alias("n_lang"),
        F.countDistinct("source").cast("bigint").alias("n_src"),
    )
    cur = cells.crossJoin(tot).withColumn(
        "w", F.lit(1.0).cast("double")
    )
    for part, tcol in (
        ("lang", "n_lang"),
        ("source", "n_src"),
        ("lang", "n_lang"),
        ("source", "n_src"),
    ):
        mass = F.sum(F.col("n") * F.col("w")).over(Window.partitionBy(part))
        cur = cur.withColumn(
            "w",
            F.col("w")
            * (
                (F.col("total").cast("double") / F.col(tcol))
                / mass
            ),
        )
    return cur.select(
        "lang",
        "source",
        "n",
        rnd(F.col("w"), 6).alias("rake_weight"),
        rnd(F.col("n") * F.col("w"), 4).alias("raked_mass"),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# t-closeness: the third leg of the release-privacy triple
# ---------------------------------------------------------------------------


@query(
    "q_t_closeness",
    oracle="""
    WITH cls AS (
      SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_band,
             lang, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2, 3
    ), gdist AS (
      SELECT lang, CAST(sum(cnt) AS BIGINT) AS g FROM cls GROUP BY lang
    ), tot AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gdist),
    classes AS (
      SELECT source, len_band, CAST(sum(cnt) AS BIGINT) AS n_class
      FROM cls GROUP BY 1, 2
    ), terms AS (
      SELECT c.source, c.len_band, c.n_class,
             CAST(sum(abs(coalesce(x.cnt, 0) * tot.n
                          - gdist.g * c.n_class)) AS BIGINT) AS t_scaled
      FROM classes c
      CROSS JOIN gdist
      CROSS JOIN tot
      LEFT JOIN cls x ON x.source = c.source AND x.len_band = c.len_band
                     AND x.lang = gdist.lang
      GROUP BY c.source, c.len_band, c.n_class
    )
    SELECT t.source, t.len_band, t.n_class, t.t_scaled,
           round(CAST(t.t_scaled AS DOUBLE) / (2.0 * t.n_class * tot.n), 6)
             AS t_dist,
           2 * t.t_scaled <= t.n_class * tot.n AS t_close
    FROM terms t, tot
    ORDER BY source, len_band
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third leg of the release-privacy triple next to q_k_anonymity and
    q_l_diversity, on the same conventions (QI class = (source,
    length band), sensitive attribute = lang): a class is t-close
    when the distance between its sensitive-value distribution and
    the GLOBAL one is at most t, closing l-diversity's skewness
    loophole (a class can be 3-diverse yet 95% one language). For a
    nominal sensitive attribute the distance is total variation,
    computed here with cross-multiplied exact BIGINTs — t_scaled =
    sum_langs |cnt_class_lang * N - global_lang * n_class|, so
    t = t_scaled / (2 * n_class * N) and the t <= 0.25 verdict is
    the EXACT integer comparison 2*t_scaled <= n_class*N (no float
    enters any decision; the reported t_dist is one final division).
    Scale: one (QI, lang)-keyed aggregate; everything after runs on
    the |QI| x |langs| bounded table against a broadcast |langs|-row
    global distribution."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    cls = docs.groupBy(
        "source",
        (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        "lang",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt")).localCheckpoint()
    glob = cls.groupBy("lang").agg(F.sum("cnt").cast("bigint").alias("g"))
    tot = glob.agg(F.sum("g").cast("bigint").alias("n"))
    classes = cls.groupBy("source", "len_band").agg(
        F.sum("cnt").cast("bigint").alias("n_class")
    )
    x = cls.select(
        F.col("source").alias("xs"),
        F.col("len_band").alias("xb"),
        F.col("lang").alias("xl"),
        "cnt",
    )
    terms = (
        classes.crossJoin(glob)
        .crossJoin(tot)
        .join(
            x,
            (F.col("xs") == F.col("source"))
            & (F.col("xb") == F.col("len_band"))
            & (F.col("xl") == F.col("lang")),
            "left",
        )
        .groupBy("source", "len_band", "n_class")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce(F.col("cnt"), F.lit(0)) * F.col("n")
                    - F.col("g") * F.col("n_class")
                )
            )
            .cast("bigint")
            .alias("t_scaled")
        )
    )
    return (
        terms.crossJoin(tot)
        .select(
            "source",
            "len_band",
            "n_class",
            "t_scaled",
            rnd(
                F.col("t_scaled").cast("double")
                / (2.0 * F.col("n_class") * F.col("n")),
                6,
            ).alias("t_dist"),
            (2 * F.col("t_scaled") <= F.col("n_class") * F.col("n")).alias(
                "t_close"
            ),
        )
        .orderBy("source", "len_band")
    )


# ---------------------------------------------------------------------------
# Preference-data fitting: Bradley-Terry strengths via MM — r13 addition
# ---------------------------------------------------------------------------


@query(
    "q_bradley_terry",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    a AS (SELECT doc_id // 2 AS pair, lang, n_chars FROM d
          WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id // 2 AS pair, lang, n_chars FROM d
          WHERE doc_id % 2 = 1),
    comp AS (
      SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.lang ELSE b.lang END
               AS win,
             CASE WHEN a.n_chars >= b.n_chars THEN b.lang ELSE a.lang END
               AS lose
      FROM a JOIN b USING (pair)
      WHERE a.lang <> b.lang
    ),
    m AS (SELECT win, lose, CAST(count(*) AS BIGINT) AS n
          FROM comp GROUP BY 1, 2),
    wtot AS (SELECT win AS lang, CAST(sum(n) AS BIGINT) AS wins
             FROM m GROUP BY 1),
    pairs AS (
      SELECT i, j, CAST(sum(n) AS BIGINT) AS nij
      FROM (SELECT win AS i, lose AS j, n FROM m
            UNION ALL
            SELECT lose AS i, win AS j, n FROM m)
      GROUP BY 1, 2
    ),
    items AS (
      SELECT p.i AS lang, coalesce(w.wins, 0) AS wins,
             CAST(sum(p.nij) AS BIGINT) AS n_comparisons
      FROM pairs p LEFT JOIN wtot w ON w.lang = p.i
      GROUP BY 1, 2
    ),
    it1 AS (
      SELECT lang, wins, n_comparisons,
             2.0 * wins / n_comparisons AS w1
      FROM items
    ),
    it2 AS (
      SELECT x.lang, x.wins, x.n_comparisons, x.w1,
             x.wins / sum(p.nij / (x.w1 + y.w1)) AS w2
      FROM it1 x
      JOIN pairs p ON p.i = x.lang
      JOIN it1 y ON y.lang = p.j
      GROUP BY 1, 2, 3, 4
    )
    SELECT lang, wins, n_comparisons,
           round(w1 / (SELECT sum(w1) FROM it2), 6) AS strength_iter1,
           round(w2 / (SELECT sum(w2) FROM it2), 6) AS strength_iter2
    FROM it2 ORDER BY lang
    """,
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fitting (the model behind
    pairwise preference data in post-training pipelines), two rounds
    of Hunter's MM algorithm (Hunter, Annals of Statistics 2004):
    w_i <- W_i / sum_j n_ij / (w_i + w_j), starting from w = 1 — so
    iteration 1 closes to 2*W_i/N_i and iteration 2 uses the full
    update. Comparisons are synthesized deterministically: documents
    pair up by floor(doc_id/2), the longer text wins (tie -> the even
    doc_id), items are languages, same-language pairs are dropped.

    Scale: the corpus appears ONLY in the pairing equi-join on
    floor(doc_id/2) and the immediate (win, lose) count — the
    aggregation combines map-side, so what survives the shuffle is the
    |items|^2 comparison matrix, and both MM iterations run on that
    bounded matrix (items ~ languages: a broadcast-sized table). This
    is how Bradley-Terry fits at 100 TB of preference pairs: stream
    the pairs once into sufficient statistics (W_i, n_ij), then
    iterate on the statistics, never the raw pairs."""
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars"
    )
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.floor(F.col("doc_id") / 2).alias("pair"),
        F.col("lang").alias("a_lang"),
        F.col("n_chars").alias("a_n"),
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select(
        F.floor(F.col("doc_id") / 2).alias("pair"),
        F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_n"),
    )
    comp = (
        a.join(b, "pair")
        .filter(F.col("a_lang") != F.col("b_lang"))
        .select(
            F.when(F.col("a_n") >= F.col("b_n"), F.col("a_lang"))
            .otherwise(F.col("b_lang"))
            .alias("win"),
            F.when(F.col("a_n") >= F.col("b_n"), F.col("b_lang"))
            .otherwise(F.col("a_lang"))
            .alias("lose"),
        )
    )
    # One corpus pass total: the (win, lose) matrix is |items|^2-sized,
    # and every downstream stage (wins, symmetric n_ij, both MM
    # iterations, the normalizers) re-derives from it — pin it so the
    # pairing join never re-executes per consumer.
    m = (
        comp.groupBy("win", "lose")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    wtot = m.groupBy(F.col("win").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("wins")
    )
    pairs = (
        m.select(F.col("win").alias("i"), F.col("lose").alias("j"), "n")
        .unionAll(
            m.select(F.col("lose").alias("i"), F.col("win").alias("j"), "n")
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("bigint").alias("nij"))
    )
    items = (
        pairs.groupBy(F.col("i").alias("lang"))
        .agg(F.sum("nij").cast("bigint").alias("n_comparisons"))
        .join(wtot, "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("wins"), F.lit(0)).cast("bigint").alias("wins"),
            "n_comparisons",
        )
    )
    it1 = items.withColumn(
        "w1", F.lit(2.0) * F.col("wins") / F.col("n_comparisons")
    )
    x = it1.select(
        F.col("lang").alias("i"),
        F.col("wins").alias("x_wins"),
        F.col("n_comparisons").alias("x_nc"),
        F.col("w1").alias("x_w1"),
    )
    y = it1.select(F.col("lang").alias("j"), F.col("w1").alias("y_w1"))
    it2 = (
        pairs.join(F.broadcast(x), "i")
        .join(F.broadcast(y), "j")
        .groupBy(
            F.col("i").alias("lang"),
            F.col("x_wins").alias("wins"),
            F.col("x_nc").alias("n_comparisons"),
            F.col("x_w1").alias("w1"),
        )
        .agg(
            (
                F.first("x_wins")
                / F.sum(F.col("nij") / (F.col("x_w1") + F.col("y_w1")))
            ).alias("w2")
        )
    )
    tot = it2.agg(
        F.sum("w1").alias("t1"), F.sum("w2").alias("t2")
    )
    return (
        it2.crossJoin(tot)
        .select(
            "lang",
            "wins",
            "n_comparisons",
            rnd(F.col("w1") / F.col("t1"), 6).alias("strength_iter1"),
            rnd(F.col("w2") / F.col("t2"), 6).alias("strength_iter2"),
        )
        .orderBy("lang")
    )


@query(
    "q_rank_centrality",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    a AS (SELECT doc_id // 2 AS pair, lang, n_chars FROM d
          WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id // 2 AS pair, lang, n_chars FROM d
          WHERE doc_id % 2 = 1),
    comp AS (
      SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.lang ELSE b.lang END
               AS win,
             CASE WHEN a.n_chars >= b.n_chars THEN b.lang ELSE a.lang END
               AS lose
      FROM a JOIN b USING (pair)
      WHERE a.lang <> b.lang
    ),
    m AS (SELECT win, lose, CAST(count(*) AS BIGINT) AS n
          FROM comp GROUP BY 1, 2),
    nij AS (
      SELECT i, j, CAST(sum(n) AS BIGINT) AS nij
      FROM (SELECT win AS i, lose AS j, n FROM m
            UNION ALL
            SELECT lose AS i, win AS j, n FROM m)
      GROUP BY 1, 2
    ),
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS d FROM nij GROUP BY i),
    dmax AS (SELECT CAST(max(d) AS DOUBLE) AS dmax FROM deg),
    offdiag AS (
      SELECT nij.i, nij.j,
             coalesce(l.n, 0) / CAST(nij.nij AS DOUBLE) / dmax.dmax AS p
      FROM nij
      LEFT JOIN m l ON l.win = nij.j AND l.lose = nij.i
      CROSS JOIN dmax
    ),
    p AS (
      SELECT i, j, p FROM offdiag
      UNION ALL
      SELECT i, i AS j, 1.0 - sum(p) AS p FROM offdiag GROUP BY i
    ),
    k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM deg),
    pi1 AS (
      SELECT p.j AS lang, sum(p.p / k.k) AS v
      FROM p CROSS JOIN k GROUP BY p.j
    ),
    pi2 AS (
      SELECT p.j AS lang, sum(p.p * pi1.v) AS v
      FROM p JOIN pi1 ON pi1.lang = p.i GROUP BY p.j
    ),
    pi3 AS (
      SELECT p.j AS lang, sum(p.p * pi2.v) AS v
      FROM p JOIN pi2 ON pi2.lang = p.i GROUP BY p.j
    )
    SELECT deg.i AS lang, deg.d AS n_opponents,
           round(pi1.v, 6) AS pi_iter1,
           round(pi2.v, 6) AS pi_iter2,
           round(pi3.v, 6) AS pi_iter3
    FROM deg
    JOIN pi1 ON pi1.lang = deg.i
    JOIN pi2 ON pi2.lang = deg.i
    JOIN pi3 ON pi3.lang = deg.i
    ORDER BY lang
    """,
)
def q_rank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank Centrality (Negahban, Oh & Shah, NeurIPS 2012 / Op. Res.
    2017): score items from pairwise preferences as the stationary
    distribution of a random walk that moves from i to j with
    probability proportional to how often j BEAT i — the spectral
    alternative to q_bradley_terry's MM likelihood fit on the same
    deterministic comparisons (documents pair by floor(doc_id/2),
    longer text wins, items are languages). Three fixed power
    iterations from the uniform vector; the walk matrix is normalized
    by the maximum opponent count d_max with the self-loop absorbing
    the remainder, as in the paper.

    Scale: identical sufficient-statistics discipline to
    q_bradley_terry — the corpus appears only in the pairing equi-join
    and the map-side-combined (win, lose) count; the |items|^2 matrix
    is pinned with localCheckpoint and all three power iterations are
    broadcast joins over that bounded matrix, never the raw pairs."""
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars"
    )
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.floor(F.col("doc_id") / 2).alias("pair"),
        F.col("lang").alias("a_lang"),
        F.col("n_chars").alias("a_n"),
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select(
        F.floor(F.col("doc_id") / 2).alias("pair"),
        F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_n"),
    )
    m = (
        a.join(b, "pair")
        .filter(F.col("a_lang") != F.col("b_lang"))
        .select(
            F.when(F.col("a_n") >= F.col("b_n"), F.col("a_lang"))
            .otherwise(F.col("b_lang"))
            .alias("win"),
            F.when(F.col("a_n") >= F.col("b_n"), F.col("b_lang"))
            .otherwise(F.col("a_lang"))
            .alias("lose"),
        )
        .groupBy("win", "lose")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    nij = (
        m.select(F.col("win").alias("i"), F.col("lose").alias("j"), "n")
        .unionAll(
            m.select(F.col("lose").alias("i"), F.col("win").alias("j"), "n")
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("bigint").alias("nij"))
    )
    deg = nij.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    dmax = deg.agg(F.max("d").cast("double").alias("dmax"))
    losses = m.select(
        F.col("win").alias("j"), F.col("lose").alias("i"),
        F.col("n").alias("l_n"),
    )
    offdiag = (
        nij.join(losses, ["i", "j"], "left")
        .crossJoin(dmax)
        .select(
            "i",
            "j",
            (
                F.coalesce(F.col("l_n"), F.lit(0))
                / F.col("nij").cast("double")
                / F.col("dmax")
            ).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    p = offdiag.unionAll(
        offdiag.groupBy("i")
        .agg((F.lit(1.0) - F.sum("p")).alias("p"))
        .select("i", F.col("i").alias("j"), "p")
    ).localCheckpoint(eager=True)
    k = deg.agg(F.count(F.lit(1)).cast("double").alias("k"))
    pi1 = (
        p.crossJoin(k)
        .groupBy(F.col("j").alias("lang"))
        .agg(F.sum(F.col("p") / F.col("k")).alias("v1"))
    )
    pi2 = (
        p.join(F.broadcast(pi1), p["i"] == pi1["lang"])
        .groupBy(F.col("j").alias("lang"))
        .agg(F.sum(F.col("p") * F.col("v1")).alias("v2"))
    )
    pi3 = (
        p.join(F.broadcast(pi2), p["i"] == pi2["lang"])
        .groupBy(F.col("j").alias("lang"))
        .agg(F.sum(F.col("p") * F.col("v2")).alias("v3"))
    )
    return (
        deg.select(F.col("i").alias("lang"), F.col("d").alias("n_opponents"))
        .join(F.broadcast(pi1), "lang")
        .join(F.broadcast(pi2), "lang")
        .join(F.broadcast(pi3), "lang")
        .select(
            "lang",
            "n_opponents",
            rnd("v1", 6).alias("pi_iter1"),
            rnd("v2", 6).alias("pi_iter2"),
            rnd("v3", 6).alias("pi_iter3"),
        )
        .orderBy("lang")
    )


@query(
    "q_coreset_sensitivity",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
      FROM e
    ),
    mu AS (SELECT dim, avg(val) AS m FROM dims GROUP BY dim),
    d2 AS (
      SELECT vec_id, sum((val - m) * (val - m)) AS dist_sq
      FROM dims JOIN mu USING (dim) GROUP BY vec_id
    ),
    tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, sum(dist_sq) AS sum_d2 FROM d2
    ),
    s AS (
      SELECT vec_id, dist_sq,
             0.5 / tot.n + 0.5 * dist_sq / tot.sum_d2 AS sens
      FROM d2 CROSS JOIN tot
    )
    SELECT vec_id,
           row_number() OVER (ORDER BY round(dist_sq, 9) DESC, vec_id)
             AS rank,
           round(dist_sq, 6) AS dist_sq,
           round(sens, 8) AS sensitivity,
           round(1.0 / (50.0 * sens), 4) AS coreset_weight
    FROM s
    QUALIFY rank <= 50
    ORDER BY rank
    """,
)
def q_coreset_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight-coreset sensitivity scores for k-means (Bachem,
    Lucic & Krause, KDD 2018): q(x) = 1/(2n) + d(x, mu)^2 / (2 sum
    d^2) upper-bounds every point's worst-case contribution to any
    clustering cost, so sampling m points with probability q and
    weight 1/(m q(x)) yields a provable k-means coreset in ONE pass
    over the data — the curation primitive that shrinks an embedding
    corpus to a weighted summary before expensive iterative
    clustering. Deterministic audit form: the 50 highest-sensitivity
    points (the outliers any coreset must keep) with their weights;
    production replaces the top-m by weighted sampling with the same
    q. Ranked on the 9-dp-rounded distance with a vec_id tiebreak on
    both engines (the float-rank discipline from q_knn_shapley).

    Scale: the mean vector is one 64-row aggregate broadcast back;
    distances are map-side zip_with folds; the n/sum-d2 normalizer is
    a 1-row broadcast — one corpus pass, no shuffle beyond the two
    tiny aggregates, exactly the paper's streaming shape."""
    vecs = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mu = (
        vecs.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.avg("val").alias("m"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda x: x.m,
            ).alias("mu")
        )
    )
    # Pinned: (vec_id, dist_sq) is the narrow per-point table the
    # paper's second pass produces; its three consumers (the n/sum
    # normalizer, the scoring join, the top-k) would each re-scan the
    # embeddings otherwise. Pass 1 = mean, pass 2 = distances — the
    # paper's exact two-pass shape.
    d2 = (
        vecs.crossJoin(mu)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("v", "mu", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist_sq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = d2.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dist_sq").alias("sum_d2"),
    )
    s = d2.crossJoin(tot).withColumn(
        "sens",
        F.lit(0.5) / F.col("n") + F.lit(0.5) * F.col("dist_sq") / F.col("sum_d2"),
    )
    # Top-50 via orderBy+limit (TakeOrderedAndProject: each partition
    # contributes its local top-50, the driver merges — fully
    # distributed); the rank window then runs over the 50-row result,
    # never the corpus (LIMIT-k class, whitelisted in explain_audit).
    top = s.orderBy(rnd("dist_sq", 9).desc(), "vec_id").limit(50)
    w = Window.orderBy(rnd("dist_sq", 9).desc(), "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "vec_id",
            "rank",
            rnd("dist_sq", 6).alias("dist_sq"),
            rnd("sens", 8).alias("sensitivity"),
            rnd(F.lit(1.0) / (F.lit(50.0) * F.col("sens")), 4).alias(
                "coreset_weight"
            ),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Unbiased pass@k (r15). The Chen et al. 2021 (Codex) estimator: with
# n trials per problem of which c succeeded, pass@k = 1 - C(n-c, k) /
# C(n, k) — the probability that a random size-k sample contains at
# least one success. The naive 1-(1-c/n)^k estimator is biased; this
# combinatorial form is exactly unbiased and is the standard eval
# aggregate for sampled LLM generations. Events stand in for trial
# logs: user_id = problem, value >= 60 = success.
# --------------------------------------------------------------------------
_PASS_KS = (1, 5, 10)


@query(
    "q_pass_at_k",
    oracle="""
    WITH pr AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value >= 60 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), ks AS (SELECT unnest([1, 5, 10]::BIGINT[]) AS k),
    pk AS (
      SELECT pr.user_id, ks.k,
             CASE WHEN pr.n - pr.c < ks.k THEN 1.0
                  ELSE 1.0 - exp(list_aggregate(
                         list_transform(range(ks.k),
                           i -> ln((pr.n - pr.c - i)
                                   / CAST(pr.n - i AS DOUBLE))),
                         'sum'))
             END AS p,
             pr.c / CAST(pr.n AS DOUBLE) AS rate
      FROM pr, ks WHERE pr.n >= ks.k
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_problems,
           round(avg(p), 6) AS pass_at_k,
           round(avg(rate), 6) AS mean_success_rate
    FROM pk GROUP BY k ORDER BY k
    """,
)
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k over per-problem trial logs for k in
    {1, 5, 10}: per problem (user_id), n = trials and c = successes
    (value >= 60); pass@k = 1 - C(n-c,k)/C(n,k), computed in
    log-space as exp(sum ln((n-c-i)/(n-i))) with the identical
    functional form on both engines (the raw binomials overflow
    doubles at production n; the ratio-product never leaves [0,1]).
    Problems with n < k are excluded (the estimator is undefined);
    n - c < k short-circuits to pass@k = 1 before any ln(<=0).

    Scale: one keyed agg over the trial log (map-side combine), a
    3-row broadcast k-dimension, and a 3-group rollup — the corpus is
    touched once, per-problem state is two BIGINTs, and the k-loop is
    a bounded array fold inside whole-stage codegen, not a join."""
    ev = load_table(spark, sf_dir, "events")
    pr = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") >= 60, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    ks = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in _PASS_KS])
    ).alias("k")
    log_fail = F.expr(
        "aggregate(sequence(0L, k - 1L), cast(0.0 as double),"
        " (acc, i) -> acc + ln((n - c - i) / cast(n - i as double)))"
    )
    p = F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0)).otherwise(
        F.lit(1.0) - F.exp(log_fail)
    )
    return (
        pr.select("user_id", "n", "c", ks)
        .filter(F.col("n") >= F.col("k"))
        .select(
            "k",
            p.alias("p"),
            (F.col("c") / F.col("n").cast("double")).alias("rate"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_problems"),
            rnd(F.avg("p"), 6).alias("pass_at_k"),
            rnd(F.avg("rate"), 6).alias("mean_success_rate"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Greedy weighted max-cover data selection (r15). Facility-location /
# coverage objectives are the standard submodular surrogate for "pick
# the k most informative documents" (Wei, Iyer & Bilmes, ICML 2015;
# coreset-style selection in data-pruning work): each step takes the
# document whose distinct tokens add the most not-yet-covered token
# mass. Greedy is (1 - 1/e)-optimal for monotone submodular
# objectives (Nemhauser, Wolsey & Fisher, 1978), so the audit of the
# realized coverage curve against the budget k IS the quality
# guarantee.
# --------------------------------------------------------------------------
_MAXCOVER_K = 5


def _maxcover_oracle_sql() -> str:
    head = """
    WITH tk AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i+1])) AS tok
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents)
      WHERE len(t) >= 2
    ), dt AS (
      SELECT DISTINCT doc_id, tok FROM tk
    ), w AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS w FROM tk GROUP BY tok
    ), tot AS (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM w)"""
    stages = []
    for s in range(1, _MAXCOVER_K + 1):
        not_covered = (
            f" WHERE dt.tok NOT IN (SELECT tok FROM c{s - 1})"
            if s > 1
            else ""
        )
        cov_prev = (
            f"SELECT tok FROM c{s - 1} UNION " if s > 1 else ""
        )
        stages.append(
            f""",
    g{s} AS (
      SELECT dt.doc_id, CAST(sum(w.w) AS BIGINT) AS g
      FROM dt JOIN w USING (tok){not_covered}
      GROUP BY dt.doc_id
    ), s{s} AS (
      SELECT doc_id, g FROM g{s} ORDER BY g DESC, doc_id LIMIT 1
    ), c{s} AS (
      {cov_prev}SELECT dt.tok FROM dt
      WHERE dt.doc_id = (SELECT doc_id FROM s{s})
    )"""
        )
    cums = {
        s: " + ".join(f"(SELECT g FROM s{i})" for i in range(1, s + 1))
        for s in range(1, _MAXCOVER_K + 1)
    }
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT {s} AS step, s{s}.doc_id, s{s}.g AS gain_w,"
        f" CAST({cums[s]} AS BIGINT) AS cum_w,"
        f" round(({cums[s]}) / tot.tw, 6) AS coverage_frac"
        f" FROM s{s}, tot"
        for s in range(1, _MAXCOVER_K + 1)
    )
    return f"{head}{''.join(stages)}\n    {unions}\n    ORDER BY step"


@query("q_greedy_maxcover", oracle=_maxcover_oracle_sql())
def q_greedy_maxcover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy weighted max-cover selection of 5 documents: the
    universe is the distinct BIGRAM vocabulary weighted by global
    occurrence count (unigrams are degenerate on this corpus — one
    document can cover the whole type set); each step selects the
    document adding the most uncovered bigram mass (ties: lowest
    doc_id) and reports the marginal gain,
    cumulative covered mass, and coverage fraction — the curve whose
    flattening tells a curation team when additional selection budget
    stops paying.

    Scale: the corpus is touched once for the (doc, token) incidence,
    weighted ONCE against the token counts and pinned; each of the 5
    fixed rounds is then a BROADCAST anti-join (the covered set is at
    most k documents' token lists — bounded by the selection budget,
    not the corpus) plus one doc-keyed sum with map-side combine —
    one shuffle of per-doc partials per round, zero re-shuffles of
    the incidence table, never pairs. The only driver state is the
    1-row argmax per round (k-row bounded collect, the
    q_kmeans_iterate discipline), exact BIGINT throughout."""
    tk = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ',"
                    " element_at(t, i + 1)))"
                )
            ).alias("tok"),
        )
    )
    dt = tk.distinct()
    w = tk.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    # Weight each (doc, token) incidence ONCE before the loop — the
    # tok-keyed dt x w join would otherwise re-shuffle the corpus
    # incidence table every greedy round. After this pin, a round is
    # a BROADCAST anti-join (the covered set is at most k documents'
    # tokens — driver-bounded small) plus one doc-keyed aggregate.
    dt_w = dt.join(w, "tok").localCheckpoint(eager=True)
    total_w = float(w.agg(F.sum("w").cast("double").alias("t")).collect()[0][0])
    sel_rows = []

    def select_one(covered: DataFrame | None, step: int) -> DataFrame:
        cand = (
            dt_w
            if covered is None
            else dt_w.join(covered, "tok", "left_anti")
        )
        gains = cand.groupBy("doc_id").agg(
            F.sum("w").cast("bigint").alias("g")
        )
        best = gains.orderBy(F.col("g").desc(), "doc_id").limit(1).collect()
        if not best:  # every token is covered (not at step 1: total_w > 0)
            return covered
        doc, gain = int(best[0]["doc_id"]), int(best[0]["g"])
        cum = (sel_rows[-1][3] if sel_rows else 0) + gain
        sel_rows.append((step, doc, gain, cum, cum / total_w))
        new_cov = dt_w.filter(F.col("doc_id") == doc).select("tok")
        return new_cov if covered is None else covered.union(new_cov).distinct()

    iterate(None, select_one, _MAXCOVER_K)
    out = local_df(
        spark,
        sel_rows,
        "step int, doc_id bigint, gain_w bigint, cum_w bigint,"
        " coverage_frac double",
    )
    return out.select(
        "step",
        "doc_id",
        "gain_w",
        "cum_w",
        rnd("coverage_frac", 6).alias("coverage_frac"),
    ).orderBy("step")


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (r16)
# ---------------------------------------------------------------------------

_DOREMI_ETA = 1.0
_DOREMI_ROUNDS = 3


def _doremi_oracle_sql(
    rounds: int = _DOREMI_ROUNDS, eta: float = _DOREMI_ETA
) -> str:
    parts = [
        """
    WITH tk AS (
      SELECT source, tok FROM (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ), pd AS (
      SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
      FROM tk GROUP BY source, tok
    ), pdn AS (
      SELECT source, tok,
             c / sum(c) OVER (PARTITION BY source) AS p
      FROM pd
    ), w0 AS (
      SELECT source,
             1.0 / (SELECT count(DISTINCT source) FROM pdn) AS w
      FROM (SELECT DISTINCT source FROM pdn)
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", mix{i} AS (
      SELECT p.tok, sum(w.w * p.p) AS pm
      FROM pdn p JOIN w{i - 1} w USING (source) GROUP BY p.tok
    ), kl{i} AS (
      SELECT p.source, sum(p.p * ln(p.p / m.pm)) AS kl
      FROM pdn p JOIN mix{i} m USING (tok) GROUP BY p.source
    ), u{i} AS (
      SELECT w.source, w.w * exp({eta!r} * k.kl) AS uw, k.kl
      FROM w{i - 1} w JOIN kl{i} k USING (source)
    ), w{i} AS (
      SELECT source, uw / (SELECT sum(uw) FROM u{i}) AS w FROM u{i}
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS round, u{i}.source, round(u{i}.kl, 6) AS kl_excess,"
        f" round(w{i}.w, 6) AS weight"
        f" FROM u{i} JOIN w{i} USING (source)"
        for i in range(1, rounds + 1)
    )
    parts.append(f"\n    {unions}\n    ORDER BY round, source")
    return "".join(parts)


@query("q_doremi_weights", oracle=_doremi_oracle_sql())
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al., NeurIPS 2023):
    multiplicative-weights updates over the per-source EXCESS LOSS,
    here the closed-form no-training analogue — excess loss of domain
    d under the current mixture alpha is KL(P_d || P_alpha), the gap
    between d's cross-entropy under the alpha-weighted mixture
    unigram LM and d's own entropy (real DoReMi measures the same gap
    between a proxy model trained on the mixture and per-domain
    reference models; the unigram twin keeps both engines exact).
    Per round: alpha_d <- alpha_d * exp(eta * KL_d), renormalized —
    domains the mixture underfits gain weight, the data-mixture
    counterpart to q_dsir_selection's per-example importance
    weighting (q_data_mixture applies a GIVEN mixture; this LEARNS
    one). KL(P_d || P_alpha) is finite without smoothing because
    P_alpha >= alpha_d * P_d > 0 on d's support.

    Scale: the corpus is touched once for the (source, tok) counts,
    then pinned; every round is joins/aggs over the
    |domains| x |vocab| table (vocab-bounded, corpus-independent) —
    mixture: one tok-keyed agg; KL: one source-keyed agg; normalizer:
    a 1-row broadcast."""
    tk = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    pd_c = tk.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    w_src = Window.partitionBy("source")
    pdn = pd_c.select(
        "source", "tok", (F.col("c") / F.sum("c").over(w_src)).alias("p")
    ).localCheckpoint(eager=True)
    srcs = pdn.select("source").distinct()
    n_src = srcs.agg(F.count(F.lit(1)).alias("n"))
    weights = srcs.crossJoin(n_src).select(
        "source", (F.lit(1.0) / F.col("n")).alias("w")
    ).localCheckpoint(eager=True)
    # us[i - 1]: round i's pinned kl; ws[i]: the weights round i yields
    # (round i + 1's input, or iterate's result for the last round).
    us, ws = [], []

    def reweight(weights: DataFrame, _: int) -> DataFrame:
        ws.append(weights)
        mix = (
            pdn.join(F.broadcast(weights), "source")
            .groupBy("tok")
            .agg(F.sum(F.col("w") * F.col("p")).alias("pm"))
        )
        kl = (
            pdn.join(mix, "tok")
            .groupBy("source")
            .agg(F.sum(F.col("p") * F.log(F.col("p") / F.col("pm"))).alias("kl"))
        )
        u = weights.join(kl, "source").select(
            "source",
            "kl",
            (F.col("w") * F.exp(_DOREMI_ETA * F.col("kl"))).alias("uw"),
        ).localCheckpoint(eager=True)
        us.append(u)
        z = u.agg(F.sum("uw").alias("z"))
        return u.crossJoin(z).select(
            "source", (F.col("uw") / F.col("z")).alias("w")
        )

    ws.append(iterate(weights, reweight, _DOREMI_ROUNDS))
    out_rows = [
        u.join(w, "source").select(
            F.lit(i).cast("int").alias("round"),
            "source",
            rnd("kl", 6).alias("kl_excess"),
            rnd("w", 6).alias("weight"),
        )
        for i, (u, w) in enumerate(zip(us, ws[1:]), 1)
    ]
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round", "source")
