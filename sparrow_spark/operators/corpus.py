"""Corpus-construction operators round seven: collocation mining,
discriminative-term selection, retrieval chunking, cross-document
boilerplate detection, size-proportional sampling, and per-source
language-diversity audits.

All text ops tokenize by the corpus's native single-space separator
(split + array lambdas, JVM-side); n-gram and term statistics are
keyed aggregations over exploded tokens — the standard shuffle-bounded
shape — and every top-k is rank-bounded with a deterministic
tiebreak so results are stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table


@query(
    "q_collocation_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), uni_c AS (
      SELECT w, CAST(count(*) AS DOUBLE) AS c FROM uni GROUP BY w
    ), n1 AS (
      SELECT CAST(sum(c) AS DOUBLE) AS n_tok FROM uni_c
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
      FROM toks
    ), bg_c AS (
      SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS DOUBLE) AS c_xy
      FROM bg GROUP BY p.w1, p.w2
    ), n2 AS (
      SELECT CAST(sum(c_xy) AS DOUBLE) AS n_big FROM bg_c
    ), pmi AS (
      SELECT b.w1, b.w2, b.c_xy,
             ln((b.c_xy / n2.n_big)
                / ((u1.c / n1.n_tok) * (u2.c / n1.n_tok))) AS pmi
      FROM bg_c b
      JOIN uni_c u1 ON b.w1 = u1.w
      JOIN uni_c u2 ON b.w2 = u2.w
      CROSS JOIN n1 CROSS JOIN n2
      WHERE b.c_xy >= 25
    )
    SELECT w1, w2, CAST(c_xy AS BIGINT) AS pair_count,
           round(pmi, 4) AS pmi
    FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
      FROM pmi
    ) WHERE rk <= 20
    ORDER BY pmi DESC, w1, w2
    """,
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the 20 adjacent
    word pairs (count >= 25) whose co-occurrence most exceeds the
    independence expectation — the classic phrase-discovery pass
    (word2vec's phrase pre-join, quality-signal for stitched/garbled
    text where PMI collapses toward 0).

    Scale: bigram extraction is a map-side array lambda (no
    self-join); unigram and bigram counts are two hash aggs keyed on
    vocab-bounded terms; the PMI join touches only the count tables
    (vocab^2-bounded, in practice the distinct-bigram table), and the
    top-k is a rank over that bounded table."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    uni_c = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n1 = uni_c.agg(F.sum("c").alias("n_tok"))
    bg_c = (
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
        .agg(F.count(F.lit(1)).cast("double").alias("c_xy"))
    )
    n2 = bg_c.agg(F.sum("c_xy").alias("n_big"))
    u1 = uni_c.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni_c.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        bg_c.filter(F.col("c_xy") >= 25)
        .join(F.broadcast(u1), "w1")
        .join(u2, "w2")
        .crossJoin(n1)
        .crossJoin(n2)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.log(
                (F.col("c_xy") / F.col("n_big"))
                / (
                    (F.col("c1") / F.col("n_tok"))
                    * (F.col("c2") / F.col("n_tok"))
                )
            ).alias("pmi"),
        )
    )
    return (
        pmi.orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("pair_count"),
            rnd("pmi", 4).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
    )


@query(
    "q_chi2_terms",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), cells AS (
      SELECT w, lang, CAST(count(*) AS DOUBLE) AS o
      FROM pres GROUP BY w, lang
    ), grid AS (
      SELECT t.w, l.lang, coalesce(c.o, 0) AS o
      FROM (SELECT DISTINCT w FROM cells) t
      CROSS JOIN (SELECT DISTINCT lang FROM cells) l
      LEFT JOIN cells c ON c.w = t.w AND c.lang = l.lang
    ), margins AS (
      SELECT w, lang, o,
             sum(o) OVER (PARTITION BY w) AS row_tot,
             sum(o) OVER (PARTITION BY lang) AS col_tot,
             sum(o) OVER () AS n
      FROM grid
    ), chi AS (
      SELECT w, sum((o - row_tot * col_tot / n)
                    * (o - row_tot * col_tot / n)
                    / (row_tot * col_tot / n)) AS chi2
      FROM margins GROUP BY w
    )
    SELECT w AS term, round(chi2, 4) AS chi2
    FROM (
      SELECT *, row_number() OVER (ORDER BY chi2 DESC, w) AS rk FROM chi
    ) WHERE rk <= 20
    ORDER BY chi2 DESC, term
    """,
)
def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square discriminative-term selection: rank vocabulary terms
    by how unevenly their document frequency distributes across
    languages — the feature-selection pass a langid/quality classifier
    trains on (q_quality_classifier's vocabulary would come from
    exactly this), zero cells included via the term x lang grid.

    Scale: presence dedup and cell counts are hash aggs keyed on
    vocab-bounded (term, lang); margins are plain aggregations joined
    back (term margin = vocab-keyed shuffle join; lang margin and the
    grand total broadcast) — no windows at all, because the vocab
    grows with the corpus (Heaps-sublinear but unbounded), so even a
    lang-partitioned window would push |vocab| rows through one task
    per language."""
    pres = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    cells = pres.groupBy("w", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    terms = cells.select("w").distinct()
    langs = cells.select("lang").distinct()
    grid = (
        terms.crossJoin(langs)
        .join(cells, ["w", "lang"], "left")
        .select("w", "lang", F.coalesce("o", F.lit(0.0)).alias("o"))
    )
    row_tot = cells.groupBy("w").agg(F.sum("o").alias("row_tot"))
    col_tot = cells.groupBy("lang").agg(F.sum("o").alias("col_tot"))
    n_tot = cells.agg(F.sum("o").alias("n"))
    margins = (
        grid.join(row_tot, "w")
        .join(col_tot, "lang")
        .crossJoin(n_tot)
        .select("w", "o", "row_tot", "col_tot", "n")
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = margins.groupBy("w").agg(
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2")
    )
    return (
        chi.orderBy(F.col("chi2").desc(), "w")
        .limit(20)
        .select(F.col("w").alias("term"), rnd("chi2", 4).alias("chi2"))
        .orderBy(F.col("chi2").desc(), "term")
    )


@query(
    "q_rag_chunking",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ), sized AS (
      SELECT doc_id, n_tok,
             1 + CAST(ceil(greatest(0, n_tok - 64) / 48.0) AS BIGINT)
               AS n_chunks
      FROM d
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(c.i AS BIGINT) AS chunk_idx,
           CAST(c.i * 48 AS BIGINT) AS start_tok,
           CAST(least(c.i * 48 + 64, n_tok) AS BIGINT) AS end_tok,
           CAST(least(c.i * 48 + 64, n_tok) - c.i * 48 AS BIGINT)
             AS chunk_len
    FROM sized, unnest(range(0, n_chunks)) AS c(i)
    ORDER BY doc_id, chunk_idx
    """,
)
def q_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunking: every document split into
    64-token chunks with stride 48 (16-token overlap) — the indexing
    prep every RAG/embedding pipeline runs before embedding, emitted
    as one row per (doc, chunk) with token boundaries.

    Scale: chunk counts are per-row arithmetic; the explode is a
    map-side sequence+explode with output proportional to corpus
    token volume / stride — no shuffle at all until a downstream op
    groups the chunks."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    n_chunks = (
        1
        + F.ceil(
            F.greatest(F.lit(0), F.col("n_tok") - 64) / F.lit(48.0)
        ).cast("bigint")
    ).alias("n_chunks")
    sized = d.select("doc_id", "n_tok", n_chunks)
    start = F.col("chunk_idx") * 48
    end = F.least(start + 64, F.col("n_tok"))
    return (
        sized.select(
            "doc_id",
            "n_tok",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "n_tok",
            "chunk_idx",
            start.cast("bigint").alias("start_tok"),
            end.cast("bigint").alias("end_tok"),
            (end - start).cast("bigint").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q_boilerplate_interdoc",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= 5
    ), df AS (
      SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
    ), per_doc AS (
      SELECT gr.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler
      FROM grams gr JOIN df ON gr.g = df.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_boiler,
           round(CAST(n_boiler AS DOUBLE) / n_grams, 4) AS boiler_frac
    FROM per_doc
    ORDER BY doc_id
    """,
)
def q_boilerplate_interdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: for each document, the
    fraction of its 5-gram positions whose 5-gram also occurs in at
    least one OTHER document — the CCNet/RefinedWeb-style shared-
    template signal (headers, navboxes, licence blocks) that MinHash
    whole-doc dedup misses because the surrounding text differs.

    Scale: 5-grams extract map-side (array lambda, no self-join);
    document frequency is one hash agg keyed on the gram (at 100 TB
    the gram key is a 64-bit hash, not the string); the verdict join
    back is gram-keyed. Everything shuffles on gram/doc keys only."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = (
        toks.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 4),"
                    " i -> concat_ws(' ', t[i-1], t[i], t[i+1], t[i+2], t[i+3]))"
                )
            ).alias("g"),
        )
    )
    df = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    return (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            rnd(F.col("n_boiler").cast("double") / F.col("n_grams"), 4).alias(
                "boiler_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q_pps_systematic",
    oracle="""
    WITH c AS (
      SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY doc_id) AS cum
      FROM documents
    ), tot AS (
      SELECT CAST(sum(n_chars) AS DOUBLE) AS t FROM documents
    )
    SELECT doc_id, n_chars,
           round(least(1.0, 25 * n_chars / t), 6) AS incl_prob,
           round(t / (25 * n_chars), 4) AS weight
    FROM c, tot
    WHERE floor((cum - t / 50) / (t / 25))
          > floor((cum - n_chars - t / 50) / (t / 25))
    ORDER BY doc_id
    """,
)
def q_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: 25 docs
    drawn by walking the cumulative n_chars line with a fixed step
    (T/25) and mid-step anchor — long documents are proportionally
    more likely to be picked, and the inverse-probability weight makes
    downstream token statistics unbiased. The deterministic anchor
    (step/2) replaces the random start so both engines agree.

    Scale: the cumulative line runs as an EXACT distributed running
    sum (``global_running_sums``: range-partition on doc_id, local
    cumsum, broadcast per-partition predecessor totals — the
    scan-and-offset two-pass form executed, not just documented;
    n_chars is BIGINT so the partial sums are exact), then per-row
    arithmetic."""
    from sparrow_spark.operators.dedup import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    c = global_running_sums(
        docs.select("doc_id", "n_chars"), ["doc_id"], ["n_chars"]
    ).select("doc_id", "n_chars", F.col("cum_n_chars").alias("cum"))
    tot = docs.agg(F.sum("n_chars").cast("double").alias("t"))
    step = F.col("t") / 25
    anchor = F.col("t") / 50
    return (
        c.crossJoin(tot)
        .filter(
            F.floor((F.col("cum") - anchor) / step)
            > F.floor((F.col("cum") - F.col("n_chars") - anchor) / step)
        )
        .select(
            "doc_id",
            "n_chars",
            rnd(F.least(F.lit(1.0), 25 * F.col("n_chars") / F.col("t")), 6).alias(
                "incl_prob"
            ),
            rnd(F.col("t") / (25 * F.col("n_chars")), 4).alias("weight"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_lang_entropy_by_source",
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS DOUBLE) AS c
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT source, sum(c) AS n FROM cells GROUP BY source
    )
    SELECT c.source,
           CAST(t.n AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(-sum((c.c / t.n) * ln(c.c / t.n)), 4) AS lang_entropy,
           round(-sum((c.c / t.n) * ln(c.c / t.n))
                 / ln((SELECT CAST(count(DISTINCT lang) AS DOUBLE)
                       FROM documents)), 4) AS normalized_entropy
    FROM cells c JOIN tot t ON c.source = t.source
    GROUP BY c.source, t.n
    ORDER BY c.source
    """,
)
def q_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix, plus the
    corpus-wide normalization (entropy / ln(total languages)) — the
    diversity audit that flags a crawl source collapsing to one
    language (entropy → 0) or perfectly balanced (→ 1), feeding the
    mixture/resampling stages the per-source diversity weight they
    rebalance on.

    Scale: one (source, lang) keyed agg bounds everything; the
    entropy sum runs over the contingency cells only."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = cells.groupBy("source").agg(F.sum("c").alias("n"))
    n_langs_tot = docs.agg(
        F.countDistinct("lang").cast("double").alias("k")
    )
    p = F.col("c") / F.col("n")
    return (
        cells.join(tot, "source")
        .crossJoin(n_langs_tot)
        .groupBy("source", "n", "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.sum(-p * F.log(p)).alias("h"),
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            "n_langs",
            rnd("h", 4).alias("lang_entropy"),
            rnd(F.col("h") / F.log("k"), 4).alias("normalized_entropy"),
        )
        .orderBy("source")
    )


@query(
    "q_feature_hashing",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
    ), hashed AS (
      SELECT w, c,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(w) + 1),
                                i -> CAST(ord(w[i]) AS BIGINT))),
               (a, x) -> (a * 31 + x) % 1024) % 64 AS bucket
      FROM counts
    )
    SELECT bucket,
           CAST(sum(c) AS BIGINT) AS total_count,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(*) > 1 AS BOOLEAN) AS has_collision
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-trick featurization: every vocabulary term maps to one of
    64 feature buckets via an engine-portable polynomial rolling hash
    (31x + ord(char), mod 1024 each step then mod 64 — pure
    arithmetic, identical on both engines, unlike Murmur3-vs-FNV
    builtin hashes), with per-bucket mass and collision counts — the
    fixed-width featurization (Weinberger et al.) that lets a
    downstream linear model skip the vocabulary dictionary entirely.

    Scale: token counts are one vocab-bounded agg; the hash fold runs
    per DISTINCT term (vocab-sized, not corpus-sized); bucket stats
    are a 64-row rollup."""
    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    counts = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bucket = (
        F.expr(
            """
            aggregate(
              transform(split(w, ''), ch -> cast(ascii(ch) AS bigint)),
              cast(0 AS bigint),
              (a, x) -> (a * 31 + x) % 1024)
            """
        )
        % 64
    )
    hashed = counts.select("w", "c", bucket.alias("bucket"))
    return (
        hashed.groupBy("bucket")
        .agg(
            F.sum("c").cast("bigint").alias("total_count"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            (F.count(F.lit(1)) > 1).alias("has_collision"),
        )
        .orderBy("bucket")
    )


@query(
    "q_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), first_seen AS (
      SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
    ), tokens_per_bucket AS (
      SELECT doc_id // 50 AS bucket,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1
    ), new_types AS (
      SELECT first_doc // 50 AS bucket,
             CAST(count(*) AS BIGINT) AS n_new_types
      FROM first_seen GROUP BY 1
    )
    SELECT t.bucket,
           t.n_tokens,
           CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT)
             AS cum_tokens,
           coalesce(n.n_new_types, 0) AS n_new_types,
           CAST(sum(coalesce(n.n_new_types, 0)) OVER (ORDER BY t.bucket)
             AS BIGINT) AS cum_vocab
    FROM tokens_per_bucket t
    LEFT JOIN new_types n ON n.bucket = t.bucket
    ORDER BY t.bucket
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: documents stream in doc_id
    order in buckets of 50, and each bucket reports its token volume
    plus how many NEVER-BEFORE-SEEN word types it contributes (a
    type's bucket = the bucket of its first-occurrence document) —
    the V(n) ~ K n^beta curve that sizes tokenizer vocabularies and
    predicts how much new text still adds new vocabulary
    (q_vocab_coverage sizes the head; this tracks the frontier).

    Scale: first occurrence is one token-keyed min agg (no ordered
    scan of the corpus); bucket rollups shuffle on bucket, and the
    cumulatives use ``global_running_sums`` (range-partition + local
    cumsum + broadcast predecessor offsets) because the bucket table
    is doc_id/50 — it GROWS with the corpus, so a bare
    ``Window.orderBy`` would drag n_docs/50 rows through one task."""
    from sparrow_spark.operators.dedup import global_running_sums

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    tokens_per_bucket = tok.groupBy(
        F.floor(F.col("doc_id") / 50).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    new_types = first_seen.groupBy(
        F.floor(F.col("first_doc") / 50).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_new_types"))
    joined = (
        tokens_per_bucket.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("n_new_types", F.lit(0))
            .cast("bigint")
            .alias("n_new_types"),
        )
    )
    return (
        global_running_sums(joined, ["bucket"], ["n_tokens", "n_new_types"])
        .select(
            "bucket",
            "n_tokens",
            F.col("cum_n_tokens").cast("bigint").alias("cum_tokens"),
            "n_new_types",
            F.col("cum_n_new_types").cast("bigint").alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Aho-Corasick multi-phrase tagging (Arrow tier)
# ---------------------------------------------------------------------------

_AC_PHRASES = [
    "agg part",
    "data slow",
    "order fast",
    "part filter",
    "stream column",
    "window join",
]


def _build_aho(phrases: list[str]):
    """Word-symbol Aho-Corasick automaton: goto/fail/output tables.
    Built once per executor (module-level cache keyed on the phrase
    tuple) — the broadcast-dictionary pattern for multi-pattern
    matching."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pi, p in enumerate(phrases):
        s = 0
        for w in p.split(" "):
            if w not in goto[s]:
                goto.append({})
                out.append([])
                goto[s][w] = len(goto) - 1
            s = goto[s][w]
        out[s].append(pi)
    fail = [0] * len(goto)
    queue = list(goto[0].values())
    while queue:
        s = queue.pop(0)
        for w, t in goto[s].items():
            queue.append(t)
            f = fail[s]
            while f and w not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(w, 0) if goto[f].get(w, 0) != t else 0
            out[t] = out[t] + out[fail[t]]
    return goto, fail, out


_AC_CACHE: dict[tuple, tuple] = {}


def _ac_scan_batches(phrases: list[str]):
    key = tuple(phrases)

    def scan(batches):
        import pandas as pd

        if key not in _AC_CACHE:
            _AC_CACHE[key] = _build_aho(list(key))
        goto, fail, out = _AC_CACHE[key]
        for pdf in batches:
            ids, names, hits = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = [0] * len(key)
                s = 0
                for w in str(text).lower().split(" "):
                    while s and w not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(w, 0)
                    for pi in out[s]:
                        counts[pi] += 1
                for pi, c in enumerate(counts):
                    if c:
                        ids.append(doc_id)
                        names.append(key[pi])
                        hits.append(c)
            yield pd.DataFrame(
                {"doc_id": ids, "phrase": names, "hits": hits}
            )

    return scan


@query(
    "q_aho_phrase_tagging",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
      FROM t, unnest(range(1, len(toks))) AS u(i)
    )
    SELECT bg AS phrase,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
           CAST(count(*) AS BIGINT) AS hits
    FROM bg
    WHERE bg IN ({", ".join(f"'{p}'" for p in _AC_PHRASES)})
    GROUP BY bg ORDER BY phrase
    """,
)
def q_aho_phrase_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-PHRASE dictionary tagging with a real Aho-Corasick
    automaton (word-symbol goto/fail/output tables) inside
    mapInPandas — the Arrow-tier counterpart to q_keyword_tagging's
    JVM In-set filter, for when patterns are multi-token and the
    dictionary is thousands strong: AC matches ALL patterns in one
    pass over each token stream regardless of dictionary size,
    including overlapping occurrences, where per-phrase LIKE scans
    would cost O(|dict|) passes. The automaton is built once per
    executor from the broadcast phrase list (module-level cache);
    blobs of work stay partition-local and only (doc, phrase, hits)
    triples — matching docs only — enter the final
    |dictionary|-bounded aggregate. The fixture dictionary is
    2-word phrases so the DuckDB oracle stays SQL-expressible as
    overlap-correct adjacent-bigram counting; the automaton itself
    is length-generic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from sparrow_spark.sources import widen

    tagged = widen(docs).mapInPandas(
        _ac_scan_batches(_AC_PHRASES),
        schema="doc_id bigint, phrase string, hits bigint",
    )
    return (
        tagged.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("docs"),
            F.sum("hits").cast("bigint").alias("hits"),
        )
        .orderBy("phrase")
    )


# ---------------------------------------------------------------------------
# r14 corpus-statistics additions: Zipf rank-frequency fit, Simple
# Good-Turing smoothing over trigram counts, Jensen-Shannon divergence
# between per-language unigram distributions.
# ---------------------------------------------------------------------------


@query(
    "q_zipf_fit",
    oracle="""
    WITH c AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ), ranked AS (
      SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS r
      FROM c
    ), pts AS (
      SELECT ln(r) AS x, ln(c) AS y FROM ranked WHERE r <= 1000
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(s.n AS BIGINT) AS n_types,
           (SELECT CAST(sum(c) AS BIGINT) FROM c) AS n_tokens,
           round((s.n * s.sxy - s.sx * s.sy)
                 / (s.n * s.sxx - s.sx * s.sx), 4) AS slope,
           round((s.sy - (s.n * s.sxy - s.sx * s.sy)
                         / (s.n * s.sxx - s.sx * s.sx) * s.sx) / s.n, 4)
             AS intercept,
           round(((s.n * s.sxy - s.sx * s.sy) * (s.n * s.sxy - s.sx * s.sy))
                 / ((s.n * s.sxx - s.sx * s.sx)
                    * (s.n * s.syy - s.sy * s.sy)), 4) AS r2
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law rank-frequency fit: regress ln(frequency) on
    ln(rank) over the head of the vocabulary (rank <= 1000) and report
    the power-law slope (~-1 for natural text), intercept, and R^2 —
    the classic corpus-health diagnostic alongside q_heaps_law's
    vocabulary-growth curve: machine-generated or template-heavy text
    shows up as a slope far from -1 or a poor log-log fit.

    Scale: term counts are one vocab-keyed agg; the global frequency
    rank uses ``global_sort_ranks`` (range partition + local rank +
    broadcast offsets — never a partition-less window over the
    vocabulary, which grows with the corpus); the OLS closed form is
    a single 1-row aggregate over the rank-bounded head."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    # Pinned: the vocabulary count table has two consumers (the token
    # total and the ranking path) — without the pin each re-runs the
    # full-corpus explode+groupBy (the same discipline as the other
    # r14 corpus queries).
    c = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_tok = c.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    ranked = global_sort_ranks(
        c.withColumn("negc", -F.col("c")), ["negc", "w"]
    ).withColumnRenamed("rn", "r")
    pts = ranked.filter(F.col("r") <= 1000).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.crossJoin(n_tok).select(
        F.col("n").cast("bigint").alias("n_types"),
        "n_tokens",
        rnd(slope, 4).alias("slope"),
        rnd((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
        rnd(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            4,
        ).alias("r2"),
    )


@query(
    "q_good_turing",
    oracle="""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), tg AS (
      SELECT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
    ), c AS (
      SELECT g, CAST(count(*) AS BIGINT) AS r FROM tg GROUP BY g
    ), fof AS (
      SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM c GROUP BY r
    ), n AS (
      SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total FROM fof
    )
    SELECT a.r,
           a.n_r,
           b.n_r AS n_r_next,
           round((a.r + 1.0) * b.n_r / a.n_r, 4) AS r_star,
           round(((a.r + 1.0) * b.n_r / a.n_r) / n.n_total, 8)
             AS p_smoothed
    FROM fof a JOIN fof b ON b.r = a.r + 1 CROSS JOIN n
    WHERE a.r <= 10
    ORDER BY a.r
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing smoothing (Gale & Sampson, 1995) over the
    corpus's trigram counts: for each low count r, the Turing estimate
    r* = (r+1) N_{r+1} / N_r re-allocates probability mass toward
    unseen events — the adjusted-count table an n-gram language model
    smooths with, and (via N_1/N) the standard estimate of how much
    probability mass the corpus has never seen. Trigrams rather than
    words because the fixture vocabulary is closed — the trigram tail
    is where rare counts live, exactly as in a real LM pipeline.

    Scale: trigram extraction is a map-side array lambda; counts are
    one keyed agg; the frequency-of-frequencies table is tiny (one row
    per distinct count value) and the successor join on r+1 is a
    broadcast self-join of that table — the corpus is touched once."""
    # size >= 3 guard: Spark's sequence(1, n) with n < 1 yields a
    # DESCENDING [1, 0], not the empty array DuckDB's range(1, n)
    # produces — a sub-3-token document would emit spurious "trigrams"
    # on the Spark side only. Latent at fixture sizes (min 10 tokens),
    # real at any corpus with short documents.
    tg = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 2),"
                    " i -> concat_ws(' ', split(text, ' ')[i-1],"
                    " split(text, ' ')[i], split(text, ' ')[i+1]))"
                )
            ).alias("g")
        )
    )
    c = tg.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    # Pin the frequency-of-frequencies table (one row per distinct
    # count value — tiny at any corpus size): its three consumers
    # (the main rows, the totals, the r+1 successor side) would each
    # re-derive it from a full corpus scan otherwise.
    fof = (
        c.groupBy("r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
        .localCheckpoint(eager=True)
    )
    n = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_total")
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    r_star = (F.col("r") + F.lit(1.0)) * F.col("n_r_next") / F.col("n_r")
    return (
        fof.join(nxt, "r")
        .filter(F.col("r") <= 10)
        .crossJoin(n)
        .select(
            "r",
            "n_r",
            "n_r_next",
            rnd(r_star, 4).alias("r_star"),
            rnd(r_star / F.col("n_total"), 8).alias("p_smoothed"),
        )
        .orderBy("r")
    )


@query(
    "q_js_divergence_langs",
    oracle="""
    WITH t AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), c AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY lang, w
    ), tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY lang
    ), p AS (
      SELECT c.lang, c.w, c.c / CAST(tot.n AS DOUBLE) AS p
      FROM c JOIN tot USING (lang)
    ), pair AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, a.w,
             a.p AS pa, b.p AS pb
      FROM p a JOIN p b ON a.w = b.w AND a.lang < b.lang
    )
    SELECT lang_a, lang_b,
           round(sum(0.5 * pa * ln(2.0 * pa / (pa + pb))
                     + 0.5 * pb * ln(2.0 * pb / (pa + pb))), 6) AS js,
           round(sqrt(sum(0.5 * pa * ln(2.0 * pa / (pa + pb))
                          + 0.5 * pb * ln(2.0 * pb / (pa + pb)))), 6)
             AS js_distance
    FROM pair GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b
    """,
)
def q_js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-language unigram
    distributions — the symmetric, bounded corpus-similarity measure a
    mixture designer reads before weighting domains (Lin 1991; the
    sqrt is a true metric). The fixture's languages share one closed
    vocabulary, so every term appears on both sides of each pair and
    the inner join loses no mass; with open vocabularies the same
    query adds the one-sided p*ln(2) terms via an outer join.

    Scale: per-language counts are one (lang, term)-keyed agg; the
    pairwise join runs on the vocab-bounded probability table (|langs|
    x |vocab| rows), never the corpus; each divergence is a keyed sum
    — |langs|^2 output rows."""
    # Pin the (lang, term) count table — |langs| x |vocab| rows, the
    # corpus's only appearance — so the totals and both pair sides
    # read the pinned table instead of re-scanning the corpus.
    c = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = c.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    p = c.join(tot, "lang").select(
        "lang", "w", (F.col("c") / F.col("n").cast("double")).alias("p")
    )
    a = p.select(
        F.col("lang").alias("lang_a"), "w", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("lang").alias("lang_b"), "w", F.col("p").alias("pb")
    )
    term = F.lit(0.5) * F.col("pa") * F.log(
        F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb"))
    ) + F.lit(0.5) * F.col("pb") * F.log(
        F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb"))
    )
    return (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            rnd(F.sum(term), 6).alias("js"),
            rnd(F.sqrt(F.sum(term)), 6).alias("js_distance"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# Entropic optimal transport between source vocabularies (r15).
# q_js_divergence_langs compares distributions pointwise — two
# corpora whose mass sits on DIFFERENT but nearly-identical tokens
# ("colour" vs "color") look maximally divergent to JS. Optimal
# transport instead prices moving mass across the vocabulary under a
# ground metric (here: length-normalized edit distance), and the
# Sinkhorn-Knopp entropic relaxation (Cuturi, NeurIPS 2013) turns
# the LP into fixed matrix-scaling iterations — the form used for
# corpus/domain distance in data-mixture work (e.g. Alvarez-Melis &
# Fusi, NeurIPS 2020's OT dataset distance).
# --------------------------------------------------------------------------
_OT_VOCAB = 16
_OT_EPS = 0.25
_OT_SRC_A = "src0"
_OT_SRC_B = "src1"
_OT_ITERS = 3


def _sinkhorn_oracle_sql() -> str:
    parts = [
        f"""
    WITH tk AS (
      SELECT source, tok FROM (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ), g AS (
      SELECT tok, count(*) AS c FROM tk GROUP BY tok
    ), vocab AS (
      SELECT tok FROM g ORDER BY c DESC, tok LIMIT {_OT_VOCAB}
    ), sa AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk
      WHERE source = '{_OT_SRC_A}' GROUP BY tok
    ), sb AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk
      WHERE source = '{_OT_SRC_B}' GROUP BY tok
    ), a AS (
      SELECT v.tok AS i, (coalesce(sa.c, 0) + 1) / CAST(
        (SELECT sum(coalesce(s2.c, 0) + 1)
         FROM vocab v2 LEFT JOIN sa s2 ON v2.tok = s2.tok) AS DOUBLE)
        AS a
      FROM vocab v LEFT JOIN sa ON v.tok = sa.tok
    ), b AS (
      SELECT v.tok AS j, (coalesce(sb.c, 0) + 1) / CAST(
        (SELECT sum(coalesce(s2.c, 0) + 1)
         FROM vocab v2 LEFT JOIN sb s2 ON v2.tok = s2.tok) AS DOUBLE)
        AS b
      FROM vocab v LEFT JOIN sb ON v.tok = sb.tok
    ), K AS (
      SELECT vi.tok AS i, vj.tok AS j,
             levenshtein(vi.tok, vj.tok)
               / CAST(greatest(len(vi.tok), len(vj.tok)) AS DOUBLE) AS c,
             exp(-(levenshtein(vi.tok, vj.tok)
               / CAST(greatest(len(vi.tok), len(vj.tok)) AS DOUBLE))
               / {_OT_EPS}) AS k
      FROM vocab vi, vocab vj
    ), u0 AS (SELECT tok AS i, 1.0 AS u FROM vocab)"""
    ]
    for t in range(1, _OT_ITERS + 1):
        parts.append(
            f""",
    v{t} AS (
      SELECT K.j, b.b / sum(K.k * u{t - 1}.u) AS v
      FROM K JOIN u{t - 1} ON K.i = u{t - 1}.i JOIN b ON b.j = K.j
      GROUP BY K.j, b.b
    ), u{t} AS (
      SELECT K.i, a.a / sum(K.k * v{t}.v) AS u
      FROM K JOIN v{t} ON K.j = v{t}.j JOIN a ON a.i = K.i
      GROUP BY K.i, a.a
    ), colsum{t} AS (
      SELECT K.j, v{t}.v * sum(K.k * u{t}.u) AS cs
      FROM K JOIN u{t} ON K.i = u{t}.i JOIN v{t} ON v{t}.j = K.j
      GROUP BY K.j, v{t}.v
    ), res{t} AS (
      SELECT {t} AS iter,
             (SELECT sum(u{t}.u * K.k * v{t}.v * K.c)
              FROM K JOIN u{t} ON K.i = u{t}.i
              JOIN v{t} ON v{t}.j = K.j) AS cost,
             (SELECT sum(abs(colsum{t}.cs - b.b))
              FROM colsum{t} JOIN b ON b.j = colsum{t}.j) AS gap
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT iter, {_OT_VOCAB} AS n_vocab, round(cost, 6) AS"
        f" sinkhorn_cost, round(gap, 6) AS col_marginal_gap FROM res{t}"
        for t in range(1, _OT_ITERS + 1)
    )
    parts.append(f"\n    {unions}\n    ORDER BY iter")
    return "".join(parts)


@query("q_sinkhorn_ot", oracle=_sinkhorn_oracle_sql())
def q_sinkhorn_ot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic OT distance between src0's and src1's unigram
    distributions over the pinned global top-16 vocabulary (count
    desc, token asc; +1 Laplace so both marginals are strictly
    positive), ground cost = levenshtein/max-length in [0,1],
    Gibbs kernel K = exp(-C/0.25). Three fixed Sinkhorn-Knopp
    scaling rounds from u = 1, reporting the transport cost
    <diag(u) K diag(v), C> and the column-marginal gap after each
    round — the gap shrinking toward 0 IS the convergence audit.

    Scale: the corpus appears in exactly TWO keyed aggregations (the
    global vocabulary count and the per-source counts — map-side
    combined, vocab-bounded output); everything after is matrix
    scaling on the pinned |V| x |V| = 256-row kernel table via
    broadcast joins, the q_rank_centrality unrolled-power-iteration
    discipline (localCheckpoint pins each scaling vector — multi-
    consumer tables, bounded lineage). |V| is a constant: corpus
    growth changes the counts, never the iteration cost."""
    # Empty tokens (consecutive/leading spaces) are filtered in BOTH
    # engines (r16, per the r15 ADVICE): an empty token in the top-16
    # vocab would put len 0 on the ground-cost diagonal — DuckDB
    # yields NaN, Spark null, and query and oracle silently diverge.
    tk = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    vocab = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_OT_VOCAB)
        .select("tok")
        .localCheckpoint(eager=True)
    )

    def marginal(src: str, out: str) -> DataFrame:
        cnt = (
            tk.filter(F.col("source") == src)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        sm = vocab.join(cnt, "tok", "left").select(
            "tok", (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("cl")
        )
        tot = sm.agg(F.sum("cl").cast("double").alias("t"))
        return (
            sm.crossJoin(tot)
            .select(
                F.col("tok").alias(out),
                (F.col("cl") / F.col("t")).alias(f"{out}_m"),
            )
            .localCheckpoint(eager=True)
        )

    a = marginal(_OT_SRC_A, "i")
    b = marginal(_OT_SRC_B, "j")
    vi = vocab.select(F.col("tok").alias("ti"))
    vj = vocab.select(F.col("tok").alias("tj"))
    cost_c = F.levenshtein("ti", "tj") / F.greatest(
        F.length("ti"), F.length("tj")
    ).cast("double")
    kern = (
        vi.crossJoin(vj)
        .select(
            F.col("ti").alias("i"),
            F.col("tj").alias("j"),
            cost_c.alias("c"),
            F.exp(-cost_c / _OT_EPS).alias("k"),
        )
        .localCheckpoint(eager=True)
    )
    rows = []

    def scale(u: DataFrame, t: int) -> DataFrame:
        v = (
            kern.join(F.broadcast(u), "i")
            .groupBy("j")
            .agg(F.sum(F.col("k") * F.col("u")).alias("kv"))
            .join(b, "j")
            .select("j", (F.col("j_m") / F.col("kv")).alias("v"))
            .localCheckpoint(eager=True)
        )
        u = (
            kern.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("k") * F.col("v")).alias("ku"))
            .join(a, "i")
            .select("i", (F.col("i_m") / F.col("ku")).alias("u"))
        )
        # plan feeds both the cost and the gap; its pin computes this
        # round's u (a 256-row join) once more than iterate's pin does.
        plan = (
            kern.join(F.broadcast(u), "i")
            .join(F.broadcast(v), "j")
            .localCheckpoint(eager=True)
        )
        cost = plan.agg(
            F.sum(
                F.col("u") * F.col("k") * F.col("v") * F.col("c")
            ).alias("cost")
        )
        gap = (
            plan.groupBy("j", "v")
            .agg(F.sum(F.col("k") * F.col("u")).alias("ks"))
            .join(b, "j")
            .agg(
                F.sum(F.abs(F.col("v") * F.col("ks") - F.col("j_m"))).alias(
                    "gap"
                )
            )
        )
        rows.append(
            cost.crossJoin(gap).select(
                F.lit(t).cast("int").alias("iter"),
                F.lit(_OT_VOCAB).cast("int").alias("n_vocab"),
                rnd("cost", 6).alias("sinkhorn_cost"),
                rnd("gap", 6).alias("col_marginal_gap"),
            )
        )
        return u

    iterate(
        vocab.select(F.col("tok").alias("i"), F.lit(1.0).alias("u")),
        scale,
        _OT_ITERS,
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("iter")
