"""Round-ten scale-pattern operators: algorithms whose POINT is the
100 TB execution shape — exact quantiles without a global sort,
sketch-guided heavy hitters whose shuffle carries only candidates,
and bounded-round graph peeling.

Reference parity: the reference engine (wqc200/sparrow) has no
order-statistic aggregate, no frequent-items surface, and no graph
operators at all (its aggregate surface is count/sum/min/max/avg,
src/meta/initial.rs); these extend the beyond-reference tier in the
same oracle-paired style as the rest of the registry.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.operators.dedup import (
    _MINHASH_BANDS_CTE,
    dup_edges,
    minhash_lsh_pairs,
    symmetrize,
)
from sparrow_spark.operators.text import tokens
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df, widen

# ---------------------------------------------------------------------------
# Exact distributed quantiles by histogram refinement (no global sort)
# ---------------------------------------------------------------------------

_QUANTILES = [0.5, 0.9, 0.99]
_NBUCKETS = 4096
_REFINE_ROUNDS = 2


@query(
    "q_exact_quantile_refine",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    cum AS (
      SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cb
      FROM (SELECT cents, count(*) AS cnt FROM c GROUP BY cents)
    ),
    qs AS (SELECT 50 AS q100 UNION ALL SELECT 90 UNION ALL SELECT 99)
    SELECT q100 / 100.0 AS q, min(cents) / 100.0 AS value
    FROM qs JOIN cum ON cb >= (q100 * (SELECT n FROM n) + 99) // 100
    GROUP BY q100 ORDER BY q
    """,
)
def q_exact_quantile_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT P50/P90/P99 of l_extendedprice ("smallest v with
    count(<=v) >= ceil(q*n)") via iterative histogram refinement —
    the at-scale replacement for a global sort: each round is one
    full-scan aggregation into 4096 fixed-width buckets over the
    surviving value range, so after R rounds the candidate range
    holds ~n/4096^R rows. Driver state is one 4096-row histogram per
    round (bounded by a constant, never by n); the final exact step
    runs a single-task ordered cumsum over that residual sliver —
    at 10^12 rows and two refine rounds the sliver is ~60 rows. The
    oracle does what we refuse to do: a full sort-order window over
    every distinct value.

    The integer-cents domain makes every count exact BIGINT
    arithmetic — no float-sum ordering anywhere, so the result is
    bit-stable under any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    cents_col = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    c = widen(li).select(cents_col.alias("cents"))

    stats = c.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_rows = stats["n"]

    out = []
    for q in _QUANTILES:
        # ceil(q*n) in exact integer arithmetic (q has 2 decimals) —
        # float ceil(0.9 * n) overshoots by 1 whenever 10 | n because
        # 0.9 is not binary-representable; the oracle uses the same
        # (q100 * n + 99) // 100 form.
        target = (int(round(q * 100)) * n_rows + 99) // 100
        lo, hi, residual = stats["lo"], stats["hi"], target
        for _ in range(_REFINE_ROUNDS):
            width = (hi - lo) // _NBUCKETS + 1
            hist = (
                c.filter((F.col("cents") >= lo) & (F.col("cents") <= hi))
                .groupBy(
                    ((F.col("cents") - lo) / width).cast("bigint").alias("b")
                )
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy("b")
                .collect()
            )
            cum = 0
            for row in hist:
                if cum + row["cnt"] >= residual:
                    residual -= cum
                    lo, hi = (
                        lo + row["b"] * width,
                        min(hi, lo + (row["b"] + 1) * width - 1),
                    )
                    break
                cum += row["cnt"]
        # Exact step over the residual sliver (bounded: range width
        # <= (domain)/4096^R; single task is the documented escape).
        w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
        sliver = (
            c.filter((F.col("cents") >= lo) & (F.col("cents") <= hi))
            .groupBy("cents")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("cb", F.sum("cnt").over(w))
            .filter(F.col("cb") >= residual)
            .agg(F.min("cents").alias("cents"))
            .collect()[0]
        )
        out.append((q, sliver["cents"]))

    res = local_df(spark, out, "q double, cents bigint")
    return res.select("q", (F.col("cents") / 100.0).alias("value")).orderBy(
        "q"
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact verification pass
# ---------------------------------------------------------------------------

_MG_K = 256
_HH_THRESHOLD = 0.01  # final exact support threshold (1% of tokens)


def _make_mg_candidates(k: int):
    """Factory for the per-partition Misra-Gries mapInPandas worker
    (CLOSURE so cloudpickle serializes it by value — the worker
    process must not need this package importable, same convention as
    operators/multimodal.py). MG with k counters (mergeable
    summaries, Agarwal et al. 2012): fold each Arrow batch's exact
    counts in, then apply the MG reduction — subtract the (k+1)-th
    largest weight from every counter and drop the non-positive ones.
    Guarantees: a token with partition frequency > 1/k survives, so a
    token with GLOBAL frequency >= 1/k survives in at least one
    partition (pigeonhole) — no false negatives for the 1% >> 1/256
    threshold regardless of partitioning; false positives are removed
    by the exact verify pass, making the final output deterministic."""

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        counters: dict[str, int] = {}
        seen = 0
        for pdf in batches:
            seen += len(pdf)
            for tok, cnt in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        # One NULL-token row per partition carries the exact partition
        # token count, so the corpus total needs no third scan.
        yield _pd.DataFrame(
            {
                "tok": list(counters.keys()) + [None],
                "pt": [0] * len(counters) + [seen],
            }
        )

    return mg


@query(
    "q_heavy_hitters_mg",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), counts AS (
      SELECT tok, count(*) AS n FROM tok GROUP BY tok
    ), total AS (SELECT sum(n) AS t FROM counts)
    SELECT tok, CAST(n AS BIGINT) AS n,
           round(n / (SELECT t FROM total), 6) AS freq
    FROM counts
    WHERE n >= 0.01 * (SELECT t FROM total)
    ORDER BY n DESC, tok
    """,
)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (tokens >= 1% of all tokens) via the
    sketch-guided two-pass: pass 1 runs a per-partition Misra-Gries
    summary (256 counters, Arrow-batched) and unions the candidate
    sets — NO token-keyed shuffle over the corpus, just <= 256 rows
    per partition; pass 2 exact-counts ONLY the candidates (map-side
    broadcast semi-filter before the groupBy, so the shuffle carries
    a few hundred distinct keys instead of the whole vocabulary).
    Compare q_vocab_heavy_hitters (operators/text.py), which shuffles
    the full token-count table: same answer — the hash-match proves
    it — at a fraction of the shuffle volume. The MG union keeps
    every true heavy hitter (see _mg_candidates), and the final
    filter uses exact BIGINT counts, so the output is deterministic
    under any partitioning."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    # The summary pass emits candidates AND the partition token counts
    # (NULL-token rows), so candidates + corpus total cost ONE scan;
    # pinned because both branches below read it.
    summary = tok.mapInPandas(
        _make_mg_candidates(_MG_K), "tok string, pt bigint"
    ).localCheckpoint(eager=True)
    cand = summary.filter(F.col("tok").isNotNull()).select("tok").distinct()
    total = summary.agg(F.sum("pt").alias("t"))
    exact = (
        tok.join(cand, "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.join(total)
        .filter(F.col("n") >= _HH_THRESHOLD * F.col("t"))
        .select(
            "tok",
            F.col("n").cast("bigint").alias("n"),
            rnd(F.col("n") / F.col("t"), 6).alias("freq"),
        )
        .orderBy(F.col("n").desc(), "tok")
    )


# ---------------------------------------------------------------------------
# k-core decomposition by bounded-round peeling
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


@query(
    "q_kcore",
    oracle=_MINHASH_BANDS_CTE
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), alive0 AS (SELECT DISTINCT u AS id FROM sym),
    alive1 AS (
      SELECT u AS id FROM sym
      WHERE u IN (SELECT id FROM alive0) AND v IN (SELECT id FROM alive0)
      GROUP BY u HAVING count(*) >= 2
    ), alive2 AS (
      SELECT u AS id FROM sym
      WHERE u IN (SELECT id FROM alive1) AND v IN (SELECT id FROM alive1)
      GROUP BY u HAVING count(*) >= 2
    ), alive3 AS (
      SELECT u AS id FROM sym
      WHERE u IN (SELECT id FROM alive2) AND v IN (SELECT id FROM alive2)
      GROUP BY u HAVING count(*) >= 2
    ), alive4 AS (
      SELECT u AS id, CAST(count(*) AS BIGINT) AS core_deg FROM sym
      WHERE u IN (SELECT id FROM alive3) AND v IN (SELECT id FROM alive3)
      GROUP BY u HAVING count(*) >= 2
    )
    SELECT a0.id AS doc_id,
           CASE WHEN a4.id IS NOT NULL THEN 1 ELSE 0 END AS in_2core,
           coalesce(a4.core_deg, 0) AS core_deg
    FROM alive0 a0 LEFT JOIN alive4 a4 ON a0.id = a4.id
    ORDER BY doc_id
    """,
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash-LSH near-duplicate graph by synchronous
    peeling: 4 fixed rounds of "drop every node whose degree among
    surviving nodes is < 2". The 2-core separates genuine duplicate
    clusters (which close into cycles) from chains of incidental
    band collisions (trees peel away) — the structural complement of
    q_triangle_count's clustering coefficient.

    Scale: every round is two semi-joins of the symmetric edge list
    against the current survivor set plus one keyed count — all
    pair-list-sized, never corpus-sized. Fixed round count (not
    loop-until-fixpoint) keeps the output deterministic and the
    oracle expressible as unrolled CTEs; 4 rounds peel chains up to
    length 8, beyond the diameter any band-collision tree reaches at
    these shingle settings (asserted by the survivor-degree >= 2
    invariant test)."""
    docs = load_table(spark, sf_dir, "documents")
    sym = symmetrize(dup_edges(docs)).localCheckpoint(eager=True)
    all_nodes = sym.select(F.col("u").alias("id")).distinct()

    def peel(survivors: DataFrame, _: int) -> DataFrame:
        alive = survivors.select("id")
        return (
            sym.join(alive.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("id", "v"), "v", "left_semi")
            .groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .filter(F.col("core_deg") >= _KCORE_K)
        )

    deg = iterate(all_nodes, peel, _KCORE_ROUNDS)
    return (
        all_nodes.join(deg, "id", "left")
        .select(
            F.col("id").cast("bigint").alias("doc_id"),
            F.when(F.col("core_deg").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("in_2core"),
            F.coalesce(F.col("core_deg"), F.lit(0))
            .cast("bigint")
            .alias("core_deg"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding (leakage-safe categorical feature)
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH_M = 100


@query(
    "q_target_encoding_cv",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             o.o_orderkey % 5 AS fold,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
      SELECT seg, fold,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY seg, fold
    ), tot AS (
      SELECT seg, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn
      FROM per GROUP BY seg
    ), gtot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS gs, CAST(count(*) AS BIGINT) AS gn
      FROM j
    )
    SELECT p.seg, CAST(p.fold AS INT) AS fold, p.n AS n_fold,
           round((t.ts - p.s) / (100.0 * (t.tn - p.n)), 4) AS oof_mean,
           round(((t.ts - p.s) / 100.0
                  + 100 * (SELECT gs FROM gtot)
                        / (100.0 * (SELECT gn FROM gtot)))
                 / ((t.tn - p.n) + 100), 4) AS enc_smoothed
    FROM per p JOIN tot t ON p.seg = t.seg
    ORDER BY p.seg, p.fold
    """,
)
def q_target_encoding_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding of c_mktsegment against order
    value: the encoding a fold sees is the mean target of every OTHER
    fold (out-of-fold), with m=100 smoothing toward the global prior
    — the standard high-cardinality categorical feature for GBDT/
    linear models, built so the feature never leaks its own row's
    label.

    Scale: one fact-dim broadcast join, then everything is
    (category, fold)-keyed aggregation over exact integer cents —
    the per-category x fold table is tiny regardless of fact size,
    and the OOF subtraction (total minus own fold) turns K
    leave-one-out passes into ONE pass + a broadcast self-join.
    Exact BIGINT sums throughout; divisions happen once on exact
    scalars, so the output is partition-stable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = (
        widen(o)
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.col("o_orderkey") % _TE_FOLDS).alias("fold"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    per = j.groupBy("seg", "fold").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tot = per.groupBy("seg").agg(
        F.sum("s").alias("ts"), F.sum("n").alias("tn")
    )
    glob = j.agg(
        F.sum("cents").alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    oof_s = F.col("ts") - F.col("s")
    oof_n = F.col("tn") - F.col("n")
    prior = F.col("gs") / (100.0 * F.col("gn"))
    return (
        per.join(F.broadcast(tot), "seg")
        .join(glob)
        .select(
            "seg",
            F.col("fold").cast("int").alias("fold"),
            F.col("n").cast("bigint").alias("n_fold"),
            rnd(oof_s / (100.0 * oof_n), 4).alias("oof_mean"),
            rnd(
                (oof_s / 100.0 + _TE_SMOOTH_M * prior)
                / (oof_n + _TE_SMOOTH_M),
                4,
            ).alias("enc_smoothed"),
        )
        .orderBy("seg", "fold")
    )


# ---------------------------------------------------------------------------
# Marginal n-gram novelty: does the corpus still add new content?
# ---------------------------------------------------------------------------


@query(
    "q_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= 5
    ), first_seen AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    ), n_docs AS (SELECT count(*) AS nd FROM documents),
    per_gram AS (
      SELECT gr.doc_id,
             CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END AS novel
      FROM grams gr JOIN first_seen f ON gr.g = f.g
    )
    SELECT least(9, doc_id * 10 // (SELECT nd FROM n_docs)) AS decile,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(novel) AS BIGINT) AS n_novel,
           round(sum(novel) / CAST(count(*) AS DOUBLE), 6) AS novel_frac
    FROM per_gram
    GROUP BY decile ORDER BY decile
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal novelty curve: for each ingestion decile (doc_id
    order stands in for crawl order), the fraction of its 5-gram
    positions whose 5-gram has never appeared in ANY earlier document
    — the diminishing-returns signal data curation teams use to
    decide when another crawl snapshot stops adding content (novelty
    falling toward 0 means new data is rehash). Complements
    q_boilerplate_interdoc (which asks "is this shared?"; novelty
    asks "who was first?").

    Scale: first-seen attribution is ONE min-aggregation keyed on the
    gram (at corpus scale the gram key is a 64-bit hash) and one
    gram-keyed join back — no self-join, no window, no per-doc state;
    the decile rollup is a 10-row aggregate. All counts exact BIGINT;
    one division at the end."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = toks.filter(F.size("t") >= 5).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 4),"
                " i -> concat_ws(' ', t[i-1], t[i], t[i+1], t[i+2], t[i+3]))"
            )
        ).alias("g"),
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    per_gram = (
        grams.join(first_seen, "g")
        .join(n_docs)
        .select(
            "doc_id",
            F.when(F.col("first_doc") == F.col("doc_id"), 1)
            .otherwise(0)
            .alias("novel"),
            F.least(
                F.lit(9),
                (F.col("doc_id") * 10 / F.col("nd")).cast("bigint"),
            ).alias("decile"),
        )
    )
    return (
        per_gram.groupBy("decile")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("novel").cast("bigint").alias("n_novel"),
            rnd(
                F.sum("novel") / F.count(F.lit(1)).cast("double"), 6
            ).alias("novel_frac"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Pinball-loss evaluation of rolling quantile forecasts
# ---------------------------------------------------------------------------


@query(
    "q_pinball_loss",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY day
    ), hist AS (
      SELECT day, rev,
             list_sort(list(rev) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS arr
      FROM daily
    ), evald AS (
      SELECT t.tau100, h.rev,
             h.arr[CAST((t.tau100 * len(h.arr) + 99) // 100 AS BIGINT)]
               AS fc
      FROM hist h
      JOIN (SELECT 50 AS tau100 UNION ALL SELECT 90) t ON true
      WHERE len(h.arr) = 7
    )
    SELECT tau100 / 100.0 AS tau,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(CASE WHEN rev >= fc
                         THEN tau100 * (rev - fc)
                         ELSE (100 - tau100) * (fc - rev) END) AS BIGINT)
                 / (10000.0 * count(*)), 4) AS avg_pinball,
           round(CAST(sum(CASE WHEN rev <= fc THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 4) AS coverage
    FROM evald GROUP BY tau100 ORDER BY tau
    """,
)
def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of a rolling 7-day discrete-quantile
    forecast of daily revenue, at tau = 0.5 and 0.9 — the standard
    scoring rule for probabilistic forecasts (lower is better;
    coverage near tau means the quantile is calibrated). The
    forecast for day d is the tau-quantile of the PREVIOUS 7 days
    ("smallest v with rank >= ceil(tau*7)"), so evaluation never
    peeks at the target day.

    Scale: the fact scan collapses to one day-keyed agg first; the
    rolling window runs over the DAY table (calendar-bounded — the
    documented day-bounded escape) with a 7-element sorted array per
    row. Loss terms are exact integer centi-cent products folded as
    BIGINT, so the average is partition-stable; divisions happen
    once at the end."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        widen(o)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("rev")
        )
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    hist = daily.withColumn(
        "arr", F.sort_array(F.collect_list("rev").over(w))
    ).filter(F.size("arr") == 7)
    taus = local_df(spark, [(50,), (90,)], "tau100 int")
    fc_idx = ((F.col("tau100") * F.size("arr") + 99) / 100).cast("int")
    evald = hist.join(taus).select(
        "tau100",
        "rev",
        F.element_at("arr", fc_idx).alias("fc"),
    )
    loss = F.when(
        F.col("rev") >= F.col("fc"),
        F.col("tau100") * (F.col("rev") - F.col("fc")),
    ).otherwise((100 - F.col("tau100")) * (F.col("fc") - F.col("rev")))
    return (
        evald.groupBy("tau100")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            rnd(
                F.sum(loss).cast("bigint")
                / (10000.0 * F.count(F.lit(1))),
                4,
            ).alias("avg_pinball"),
            rnd(
                F.sum(
                    F.when(F.col("rev") <= F.col("fc"), 1).otherwise(0)
                ).cast("bigint")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("coverage"),
        )
        .select(
            (F.col("tau100") / 100.0).alias("tau"),
            "n_days",
            "avg_pinball",
            "coverage",
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# Zone-map skipping audit: what does data layout buy the scan?
# ---------------------------------------------------------------------------

_ZM_ROWS_PER_FILE = 512
_ZM_BITS = 16
_ZM_DAY_LO, _ZM_DAY_HI = 100, 129  # 30-day predicate window


def _z_interleave_sql(day: str, pk: str) -> str:
    """Morton-order bit interleave as portable SQL (DuckDB and Spark
    both accept >>, & and <<): day bits land on even positions, part
    bits on odd — so a z-sorted layout clusters BOTH dimensions."""
    terms = [
        f"((({day} >> {b}) & 1) << {2 * b})"
        f" + ((({pk} >> {b}) & 1) << {2 * b + 1})"
        for b in range(_ZM_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


_ZM_BASE_CTE = f"""
    WITH mm AS (
      SELECT min(CAST(l_shipdate AS DATE)) AS d0,
             max(l_partkey) AS pk_max
      FROM lineitem
    ), base AS (
      SELECT l_orderkey, l_linenumber,
             date_diff('day', (SELECT d0 FROM mm),
                       CAST(l_shipdate AS DATE)) & 65535 AS day_idx,
             l_partkey & 65535 AS pk_idx
      FROM lineitem
    ), zb AS (
      SELECT *, {_z_interleave_sql("day_idx", "pk_idx")} AS z FROM base
    ), ranked AS (
      SELECT 'insertion' AS layout,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                day_idx, pk_idx) AS rn,
             day_idx, pk_idx
      FROM zb
      UNION ALL
      SELECT 'shipdate',
             row_number() OVER (ORDER BY day_idx, l_orderkey,
                                l_linenumber, pk_idx),
             day_idx, pk_idx
      FROM zb
      UNION ALL
      SELECT 'zorder',
             row_number() OVER (ORDER BY z, l_orderkey, l_linenumber,
                                day_idx, pk_idx),
             day_idx, pk_idx
      FROM zb
    ), zones AS (
      SELECT layout, (rn - 1) // {_ZM_ROWS_PER_FILE} AS file_id,
             min(day_idx) AS d_min, max(day_idx) AS d_max,
             min(pk_idx) AS p_min, max(pk_idx) AS p_max,
             count(*) AS n_rows
      FROM ranked GROUP BY layout, file_id
    ), verdicts AS (
      SELECT layout, n_rows,
             CASE WHEN d_max < {_ZM_DAY_LO} OR d_min > {_ZM_DAY_HI}
                    OR p_min > (SELECT pk_max FROM mm) // 5
                  THEN 1 ELSE 0 END AS skipped
      FROM zones
    ), matched AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM zb
      WHERE day_idx BETWEEN {_ZM_DAY_LO} AND {_ZM_DAY_HI}
        AND pk_idx <= (SELECT pk_max FROM mm) // 5
    )
"""


@query(
    "q_zonemap_skipping",
    oracle=_ZM_BASE_CTE
    + """
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(skipped) AS BIGINT) AS n_skipped,
           round(sum(skipped) / CAST(count(*) AS DOUBLE), 4) AS skip_frac,
           CAST(sum(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           (SELECT n FROM matched) AS rows_matched
    FROM verdicts GROUP BY layout ORDER BY layout
    """,
)
def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: model the SAME table laid out three ways —
    insertion order, sorted by ship date, and Morton/z-order on
    (ship-day, part) — cut each into fixed-size files, keep per-file
    min/max zone maps, and measure how many files a two-dimension
    predicate (30-day window AND low part range) can skip. This is
    the quantitative case for clustering/OPTIMIZE ZORDER before a
    100 TB scan: insertion order skips almost nothing, single-key
    sort skips only its own dimension, z-order skips on both. The
    same zone-map logic is what parquet row-group pruning and
    Delta/Iceberg file skipping execute for real.

    Scale: file ids come from global_sort_ranks (range-partition +
    local rank + broadcast offsets — operators/dedup.py:1633), never
    a bare Window.orderBy; zone maps are one (layout, file)-keyed
    agg; the verdict table is file-count-sized. All arithmetic is
    integer, so the audit is partition-stable."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max("l_partkey").alias("pk_max"),
    )
    base = (
        widen(li)
        .join(mm)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.to_date("l_shipdate"), F.col("d0"))
            .bitwiseAND(65535)
            .alias("day_idx"),
            F.col("l_partkey").bitwiseAND(65535).alias("pk_idx"),
            F.col("pk_max"),
        )
        .withColumn(
            "z", F.expr(_z_interleave_sql("day_idx", "pk_idx"))
        )
        # Pin the base once: global_sort_ranks references its input
        # twice (local ranks + the offset table), and an un-pinned
        # round-robin-repartitioned input can re-evaluate with
        # different partition contents between those two references —
        # the offsets then describe a different partitioning than the
        # local ranks and the global ranks come out wrong (observed as
        # run-to-run drift in file sizes). localCheckpoint makes both
        # references — and all three layout rankings — read the same
        # materialized partitions.
        .localCheckpoint(eager=True)
    )
    # (l_orderkey, l_linenumber) is NOT unique in this data, so each
    # key list ends with the zone-map dimensions: rows still tied after
    # that are IDENTICAL in (day_idx, pk_idx), and identical rows are
    # interchangeable for file stats — any assignment yields the same
    # zone maps and counts, keeping the audit deterministic.
    layouts = {
        "insertion": ["l_orderkey", "l_linenumber", "day_idx", "pk_idx"],
        "shipdate": ["day_idx", "l_orderkey", "l_linenumber", "pk_idx"],
        "zorder": ["z", "l_orderkey", "l_linenumber", "day_idx", "pk_idx"],
    }
    ranked = None
    for name, keys in layouts.items():
        r = global_sort_ranks(base, keys).select(
            F.lit(name).alias("layout"),
            ((F.col("rn") - 1) / _ZM_ROWS_PER_FILE)
            .cast("bigint")
            .alias("file_id"),
            "day_idx",
            "pk_idx",
            "pk_max",
        )
        ranked = r if ranked is None else ranked.unionByName(r)
    zones = ranked.groupBy("layout", "file_id").agg(
        F.min("day_idx").alias("d_min"),
        F.max("day_idx").alias("d_max"),
        F.min("pk_idx").alias("p_min"),
        F.max("pk_idx").alias("p_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.first("pk_max").alias("pk_max"),
    )
    pk_hi = (F.col("pk_max") / 5).cast("bigint")
    skipped = (
        (F.col("d_max") < _ZM_DAY_LO)
        | (F.col("d_min") > _ZM_DAY_HI)
        | (F.col("p_min") > pk_hi)
    ).cast("int")
    matched = (
        base.filter(
            F.col("day_idx").between(_ZM_DAY_LO, _ZM_DAY_HI)
            & (F.col("pk_idx") <= (F.col("pk_max") / 5).cast("bigint"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    return (
        zones.withColumn("skipped", skipped)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("skipped").cast("bigint").alias("n_skipped"),
            rnd(
                F.sum("skipped") / F.count(F.lit(1)).cast("double"), 4
            ).alias("skip_frac"),
            F.sum(
                F.when(F.col("skipped") == 0, F.col("n_rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .join(matched)
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Platt-style probability calibration via sufficient-statistic descent
# ---------------------------------------------------------------------------

_PLATT_STEPS = 3
_PLATT_ETA = 0.5


def _platt_step_sql(i: int) -> str:
    """One gradient step as SQL CTEs: per-bucket terms under the
    current (a, b), then two ORDER-PINNED folds (list(... ORDER BY
    xb) + list_reduce) so DuckDB sums in exactly the ascending-bucket
    order the Spark-side driver loop uses — double addition is
    order-sensitive, pinning the order makes both engines bit-equal.
    The link is the RATIONAL sigmoid s(t) = 0.5 + t / (2*(1+|t|)):
    division/multiplication/addition are exactly specified by IEEE
    754, unlike exp(), whose last-ulp rounding differs between libm
    implementations — with exp() the two engines' fitted (a, b)
    could drift apart. Same shape, same calibration role."""
    return f"""
    , terms{i} AS (
      SELECT xb, x, n, pos,
             0.5 + (a + b * x) / (2 * (1 + abs(a + b * x))) AS p,
             0.5 / ((1 + abs(a + b * x)) * (1 + abs(a + b * x))) AS sp
      FROM hist, step{i}
    ), grads{i} AS (
      SELECT
        list_reduce(list(2 * (p - pos / CAST(n AS DOUBLE)) * sp
                         ORDER BY xb), (acc, v) -> acc + v) AS g_a,
        list_reduce(list(2 * (p - pos / CAST(n AS DOUBLE)) * sp * x
                         ORDER BY xb), (acc, v) -> acc + v) AS g_b
      FROM terms{i}
    ), step{i + 1} AS (
      SELECT a - {_PLATT_ETA} * g_a / (SELECT nb FROM nbuckets) AS a,
             b - {_PLATT_ETA} * g_b / (SELECT nb FROM nbuckets) AS b
      FROM step{i}, grads{i}
    )"""


@query(
    "q_platt_scaling",
    oracle="""
    WITH hist AS (
      SELECT n_chars // 100 AS xb,
             (n_chars // 100) / 10.0 AS x,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos
      FROM documents GROUP BY n_chars // 100
    ), nbuckets AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM hist),
    step0 AS (SELECT 0.0 AS a, 0.0 AS b)
    """
    + "".join(_platt_step_sql(i) for i in range(_PLATT_STEPS))
    + f"""
    SELECT h.xb, h.n, h.pos,
           round(h.pos / CAST(h.n AS DOUBLE), 6) AS p_emp,
           round(0.5 + (s.a + s.b * h.x)
                 / (2 * (1 + abs(s.a + s.b * h.x))), 6) AS p_cal,
           round(s.a, 6) AS a_fit, round(s.b, 6) AS b_fit
    FROM hist h, step{_PLATT_STEPS} s
    ORDER BY h.xb
    """,
)
def q_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt-style probability calibration of a document score
    (length bucket -> P(lang = en)) by fitting a two-parameter link
    on SUFFICIENT STATISTICS: one corpus pass aggregates the
    per-bucket (n, positives) histogram — exact BIGINT counts — and
    the 3 fixed gradient steps then run on the driver over that
    bounded table (one row per score bucket, never per document).
    This is the at-scale shape for ANY low-dimensional fit: reduce
    the corpus to sufficient stats once, iterate on kilobytes.

    Cross-engine determinism: the driver folds gradient terms in
    ascending-bucket order and the oracle pins the identical order
    with list(... ORDER BY xb) + list_reduce; the link is the
    rational sigmoid 0.5 + t/(2(1+|t|)) — IEEE-exact arithmetic only,
    no libm exp() whose rounding differs between engines (swap the
    logistic link in deployment; the distributed shape is
    identical)."""
    docs = load_table(spark, sf_dir, "documents")
    hist_df = (
        widen(docs)
        .groupBy((F.col("n_chars") / 100).cast("bigint").alias("xb"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("pos"),
        )
    )
    hist = sorted(
        [(r["xb"], r["n"], r["pos"]) for r in hist_df.collect()]
    )
    nb = float(len(hist))
    a, b = 0.0, 0.0
    for _ in range(_PLATT_STEPS):
        g_a, g_b = 0.0, 0.0
        for xb, n, pos in hist:  # ascending xb — matches the oracle fold
            x = xb / 10.0
            t = a + b * x
            p = 0.5 + t / (2 * (1 + abs(t)))
            sp = 0.5 / ((1 + abs(t)) * (1 + abs(t)))
            g_a = g_a + 2 * (p - pos / float(n)) * sp
            g_b = g_b + 2 * (p - pos / float(n)) * sp * x
        a -= _PLATT_ETA * g_a / nb
        b -= _PLATT_ETA * g_b / nb
    x = F.col("xb") / 10.0
    t = F.lit(a) + F.lit(b) * x
    p_cal = 0.5 + t / (2 * (1 + F.abs(t)))
    return (
        hist_df.select(
            "xb",
            "n",
            "pos",
            rnd(F.col("pos") / F.col("n").cast("double"), 6).alias("p_emp"),
            rnd(p_cal, 6).alias("p_cal"),
            rnd(F.lit(a), 6).alias("a_fit"),
            rnd(F.lit(b), 6).alias("b_fit"),
        )
        .orderBy("xb")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: the no-shuffle join the 100 TB plan wants
# ---------------------------------------------------------------------------

_BUCKETS = 8


@query(
    "q_bucketed_join_colocated",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             round(sum(o.o_totalprice), 2) AS total_price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT p.path, a.n_rows, a.total_price,
           CASE p.path WHEN 'bucketed' THEN 0 ELSE 2 END
             AS join_input_shuffles
    FROM (SELECT unnest(['bucketed', 'plain']) AS path) p
    CROSS JOIN agg a
    ORDER BY p.path
    """,
)
def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing as physical co-location: orders and customer written
    with bucketBy(8, custkey) + sortBy join WITHOUT shuffling either
    input — the bucketed scans already satisfy the sort-merge join's
    clustering requirement — while the same join over plain parquet
    must exchange both sides. The join_input_shuffles column is
    measured FROM THE PHYSICAL PLAN (Exchange count below the
    aggregate, minus the aggregate's own single exchange) and
    hash-checked against the expected 0-vs-2 by the oracle, so a
    regression that silently reintroduces the shuffle fails the
    correctness gate, not just a bench number. Both paths must also
    produce identical aggregates — result equivalence is what
    licenses the layout choice, exactly as with the join-strategy
    hints (plans/warehouse.py q_join_strategy_equivalence).

    Scale: at 100 TB this is THE fact-fact join strategy — bucket
    both tables on the join key at write time (one shuffle, paid
    once) and every subsequent join is exchange-free; merge hints pin
    SMJ so the comparison is like-for-like. The throwaway catalog
    database + tempdir warehouse are dropped after the result is
    frozen to a LocalRelation (the q_engine_dml discipline)."""
    import shutil
    import tempfile
    import uuid

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    db = f"buckx_{uuid.uuid4().hex[:8]}"
    wh = tempfile.mkdtemp(prefix="sparrow-buck-")
    spark.sql(f"CREATE DATABASE `{db}` LOCATION '{wh}/db'")
    try:
        (
            orders.write.format("parquet")
            .bucketBy(_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(f"{db}.orders_b")
        )
        (
            customer.write.format("parquet")
            .bucketBy(_BUCKETS, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(f"{db}.customer_b")
        )
        ob = spark.table(f"{db}.orders_b")
        cb = spark.table(f"{db}.customer_b")

        def measured(path: str, left: DataFrame, right: DataFrame,
                     lkey: str, rkey: str) -> DataFrame:
            j = left.join(right.hint("merge"), left[lkey] == right[rkey])
            agg = j.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                rnd(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            # executedPlan (initial adaptive plan, after
            # EnsureRequirements): the join inputs shuffle as
            # "Exchange hashpartitioning"; the global aggregate's own
            # exchange is SinglePartition, so counting the hash
            # exchanges isolates exactly what the JOIN INPUTS paid.
            plan = agg._jdf.queryExecution().executedPlan().toString()
            n_join_ex = plan.count("Exchange hashpartitioning")
            return agg.select(
                F.lit(path).alias("path"),
                "n_rows",
                "total_price",
                F.lit(n_join_ex).cast("int").alias("join_input_shuffles"),
            )

        out = measured("bucketed", ob, cb, "o_custkey", "c_custkey").unionByName(
            measured("plain", orders, customer, "o_custkey", "c_custkey")
        )
        rows = out.collect()
        frozen = local_df(spark, rows, out.schema)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
        shutil.rmtree(wh, ignore_errors=True)
    return frozen.orderBy("path")


# ---------------------------------------------------------------------------
# Grid-based density clustering (DBSCAN on cell counts, not point pairs)
# ---------------------------------------------------------------------------

_GRID_W = 0.08
_GRID_MINPTS = 4
_GRID_ROUNDS = 5
_GRID_OFF = 1000
_GRID_M = 100000


def _dbscan_label_cte(i: int) -> str:
    return f"""
    , lab{i + 1} AS (
      SELECT e.u AS id, min(l.lab) AS lab
      FROM edges e JOIN lab{i} l ON e.v = l.id
      GROUP BY e.u
    )"""


@query(
    "q_dbscan_grid",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id,
             CAST(floor(embedding[1] / {_GRID_W}) AS BIGINT) AS cx,
             CAST(floor(embedding[2] / {_GRID_W}) AS BIGINT) AS cy
      FROM embeddings
    ), cells AS (
      SELECT cx, cy, CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY cx, cy
    ), core AS (
      SELECT cx, cy, n,
             (cx + {_GRID_OFF}) * {_GRID_M} + (cy + {_GRID_OFF}) AS cell
      FROM cells WHERE n >= {_GRID_MINPTS}
    ), edges AS (
      SELECT a.cell AS u, b.cell AS v
      FROM core a JOIN core b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    ), lab0 AS (SELECT cell AS id, cell AS lab FROM core)
    """
    + "".join(_dbscan_label_cte(i) for i in range(_GRID_ROUNDS))
    + f"""
    SELECT l.lab AS cluster,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(c.n) AS BIGINT) AS n_points
    FROM lab{_GRID_ROUNDS} l JOIN core c ON l.id = c.cell
    GROUP BY l.lab
    UNION ALL
    SELECT -1 AS cluster,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_points
    FROM cells WHERE n < {_GRID_MINPTS}
    ORDER BY cluster
    """,
)
def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering of the embedding cloud WITHOUT point-pair
    work: quantize the first two dimensions onto a fixed grid (at
    scale those are the top PCA components — q_pca_power_iteration),
    call a cell "core" when it holds >= minPts points, and connect
    core cells through their 8-neighborhood — the cell graph is the
    cluster structure (GriDBSCAN/grid-DBSCAN family). Points in
    non-core cells report as the noise row (cluster = -1).

    Scale: the corpus contributes ONE cell-keyed count aggregate;
    everything after runs on the CELL table (orders of magnitude
    smaller — bounded by occupied grid cells, not points). Neighbor
    edges come from a 9-offset explode + equi-join on cell keys,
    never a distance self-join; cluster ids are fixed-round
    synchronous min-label propagation over the cell graph (unrolled
    in the oracle). Cell assignment is floor(float/width) —
    IEEE-identical in both engines — and every count is BIGINT, so
    output is partition-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = widen(emb).select(
        "vec_id",
        F.floor(F.element_at("embedding", 1) / _GRID_W)
        .cast("bigint")
        .alias("cx"),
        F.floor(F.element_at("embedding", 2) / _GRID_W)
        .cast("bigint")
        .alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    core = cells.filter(F.col("n") >= _GRID_MINPTS).withColumn(
        "cell",
        (F.col("cx") + _GRID_OFF) * _GRID_M + (F.col("cy") + _GRID_OFF),
    )
    offsets = local_df(
        spark,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx int, dy int",
    )
    probes = core.join(offsets).select(
        F.col("cell").alias("u"),
        (F.col("cx") + F.col("dx")).alias("nx"),
        (F.col("cy") + F.col("dy")).alias("ny"),
    )
    nbr = core.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("cell").alias("v"),
    )
    edges = probes.join(nbr, ["nx", "ny"]).select("u", "v")
    edges = edges.localCheckpoint(eager=True)

    def spread(labels: DataFrame, _: int) -> DataFrame:
        return (
            edges.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("lab").alias("lab"))
        )

    labels = iterate(
        core.select(F.col("cell").alias("id"), F.col("cell").alias("lab")),
        spread,
        _GRID_ROUNDS,
    )
    clusters = (
        labels.join(core.withColumnRenamed("cell", "id"), "id")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_points"),
        )
        .select(F.col("lab").alias("cluster"), "n_cells", "n_points")
    )
    noise = cells.filter(F.col("n") < _GRID_MINPTS).agg(
        F.lit(-1).cast("bigint").alias("cluster"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_points"),
    )
    return clusters.unionByName(noise).orderBy("cluster")


# ---------------------------------------------------------------------------
# Neyman (optimal) stratified-sample allocation vs proportional
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag || '/' || l_linestatus AS stratum,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), s AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(cents) AS BIGINT) AS sm,
             sum(CAST(cents AS HUGEINT) * cents) AS sq
      FROM c GROUP BY stratum
    ), v AS (
      SELECT stratum, n_h,
             sqrt((CAST(sq AS DOUBLE)
                   - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n_h)
                  / (n_h - 1)) / 100.0 AS sd
      FROM s
    ), w AS (
      SELECT stratum, n_h, sd, n_h * sd AS wt FROM v
    ), tots AS (
      SELECT sum(wt) AS tw, CAST(sum(n_h) AS BIGINT) AS tn FROM w
    ), quota AS (
      SELECT stratum, n_h, sd,
             {_NEYMAN_BUDGET} * wt / (SELECT tw FROM tots) AS ney_exact,
             floor({_NEYMAN_BUDGET} * wt / (SELECT tw FROM tots)) AS ney_base,
             {_NEYMAN_BUDGET} * n_h / CAST((SELECT tn FROM tots) AS DOUBLE)
               AS prop_exact,
             floor({_NEYMAN_BUDGET} * n_h
                   / CAST((SELECT tn FROM tots) AS DOUBLE)) AS prop_base
      FROM w
    ), short AS (
      SELECT CAST({_NEYMAN_BUDGET} - sum(ney_base) AS BIGINT) AS ks,
             CAST({_NEYMAN_BUDGET} - sum(prop_base) AS BIGINT) AS kp
      FROM quota
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY ney_exact - ney_base DESC, stratum)
               AS rn_n,
             row_number() OVER (ORDER BY prop_exact - prop_base DESC,
                                stratum) AS rn_p
      FROM quota
    )
    SELECT stratum, n_h, round(sd, 4) AS sd,
           CAST(ney_base + CASE WHEN rn_n <= (SELECT ks FROM short)
                                THEN 1 ELSE 0 END AS BIGINT) AS neyman_n,
           CAST(prop_base + CASE WHEN rn_p <= (SELECT kp FROM short)
                                 THEN 1 ELSE 0 END AS BIGINT) AS prop_n
    FROM ranked
    ORDER BY stratum
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal (Neyman) allocation of a fixed 1000-row sample budget
    across the lineitem strata: sample size per stratum proportional
    to N_h * S_h — high-variance strata earn more rows than their
    population share — side by side with plain proportional
    allocation, both made integer-exact by largest-remainder
    rounding (q_apportion_largest_remainder's discipline, exact-sum
    to the budget by construction). This is the survey-sampling
    counterpart of the PPS/priority samplers already registered: it
    decides the per-stratum BUDGET those samplers then execute.

    Scale: one stratum-keyed aggregation over exact integer cents
    (second moments fold as DECIMAL(38,0)/HUGEINT, converted to
    double once at the end, so the stratum stats are
    partition-stable); everything after runs on the |strata|-row
    table, windows included — the bounded-cardinality escape."""
    li = load_table(spark, sf_dir, "lineitem")
    c = widen(li).select(
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("stratum"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    s = c.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("cents").alias("sm"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).alias("sq"),
    )
    sd = (
        F.sqrt(
            (
                F.col("sq").cast("double")
                - F.col("sm").cast("double")
                * F.col("sm").cast("double")
                / F.col("n_h")
            )
            / (F.col("n_h") - 1)
        )
        / 100.0
    )
    # Pin the |strata|-row stats table: quota/short/ranked each branch
    # from it, and without the pin every branch re-runs the corpus
    # aggregation (plan audit showed 4 scans for one logical pass).
    w = (
        s.select("stratum", "n_h", sd.alias("sd"))
        .withColumn("wt", F.col("n_h") * F.col("sd"))
        .localCheckpoint(eager=True)
    )
    tots = w.agg(
        F.sum("wt").alias("tw"), F.sum("n_h").cast("bigint").alias("tn")
    )
    ney_exact = _NEYMAN_BUDGET * F.col("wt") / F.col("tw")
    prop_exact = _NEYMAN_BUDGET * F.col("n_h") / F.col("tn").cast("double")
    quota = w.crossJoin(tots).select(
        "stratum",
        "n_h",
        "sd",
        ney_exact.alias("ney_exact"),
        F.floor(ney_exact).alias("ney_base"),
        prop_exact.alias("prop_exact"),
        F.floor(prop_exact).alias("prop_base"),
    )
    short = quota.agg(
        (_NEYMAN_BUDGET - F.sum("ney_base")).cast("bigint").alias("ks"),
        (_NEYMAN_BUDGET - F.sum("prop_base")).cast("bigint").alias("kp"),
    )
    ranked = (
        quota.withColumn(
            "rn_n",
            F.row_number().over(
                Window.orderBy(
                    F.desc(F.col("ney_exact") - F.col("ney_base")), "stratum"
                )
            ),
        )
        .withColumn(
            "rn_p",
            F.row_number().over(
                Window.orderBy(
                    F.desc(F.col("prop_exact") - F.col("prop_base")),
                    "stratum",
                )
            ),
        )
    )
    return (
        ranked.crossJoin(short)
        .select(
            "stratum",
            "n_h",
            rnd("sd", 4).alias("sd"),
            (
                F.col("ney_base")
                + F.when(F.col("rn_n") <= F.col("ks"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("neyman_n"),
            (
                F.col("prop_base")
                + F.when(F.col("rn_p") <= F.col("kp"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("prop_n"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over word co-occurrence)
# ---------------------------------------------------------------------------

_TR_ROUNDS = 3
_TR_DAMP = 0.85
_TR_TOPK = 20


def _tr_round_cte(i: int) -> str:
    return f"""
    , pr{i + 1} AS (
      SELECT s.a AS node,
             0.15 / (SELECT nn FROM nN)
             + {_TR_DAMP} * sum(p.score * s.w / d.wd) AS score
      FROM sym s
      JOIN pr{i} p ON p.node = s.b
      JOIN deg d ON d.node = s.b
      GROUP BY s.a
    )"""


@query(
    "q_textrank_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), big AS (
      SELECT least(t[i], t[i+1]) AS a, greatest(t[i], t[i+1]) AS b
      FROM toks, unnest(range(1, len(t))) AS r(i)
      WHERE t[i] <> t[i+1] AND t[i] <> '' AND t[i+1] <> ''
    ), edges AS (
      SELECT a, b, CAST(count(*) AS DOUBLE) AS w FROM big GROUP BY a, b
    ), sym AS (
      SELECT a, b, w FROM edges UNION ALL SELECT b AS a, a AS b, w FROM edges
    ), deg AS (
      SELECT a AS node, sum(w) AS wd FROM sym GROUP BY a
    ), nN AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
    pr0 AS (SELECT node, 1.0 / (SELECT nn FROM nN) AS score FROM deg)
    """
    + "".join(_tr_round_cte(i) for i in range(_TR_ROUNDS))
    + f"""
    SELECT node AS word, round(score, 6) AS score
    FROM pr{_TR_ROUNDS}
    ORDER BY round(score, 6) DESC, word
    LIMIT {_TR_TOPK}
    """,
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the corpus-wide
    word co-occurrence graph (adjacent-token edges, weight =
    co-occurrence count), 3 fixed damped rounds, top-20 words — the
    unsupervised keyword/keyphrase baseline (Mihalcea & Tarau 2004)
    that needs no labels and no model, a standard corpus-triage tool
    next to TF-IDF and the collocation PMI pack.

    Scale: edge extraction is map-side (adjacent pairs from the token
    array); the graph then lives at VOCABULARY size, not corpus size
    — every round is one join + one keyed agg over the
    vocabulary-sized edge list. Ranking uses the ROUNDED score
    (word tiebreak) so ulp-level summation differences cannot reorder
    the cut; the oracle unrolls the same 3 rounds."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(tokens(F.col("text")).alias("t"))
    big = toks.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(t) - 1),"
                " i -> struct(least(t[i-1], t[i]) AS a,"
                "             greatest(t[i-1], t[i]) AS b)),"
                " p -> p.a <> p.b AND p.a <> '' AND p.b <> '')"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = big.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.sum("w").alias("wd"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("double").alias("nn"))

    def rank(pr: DataFrame, _: int) -> DataFrame:
        contrib = (
            sym.join(pr.withColumnRenamed("node", "b"), "b")
            .join(deg.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.sum(F.col("score") * F.col("w") / F.col("wd")).alias("c")
            )
        )
        return contrib.join(n_nodes).select(
            "node", (0.15 / F.col("nn") + _TR_DAMP * F.col("c")).alias("score")
        )

    pr = iterate(
        deg.join(n_nodes).select(
            "node", (F.lit(1.0) / F.col("nn")).alias("score")
        ),
        rank,
        _TR_ROUNDS,
    )
    return (
        pr.select("node", rnd("score", 6).alias("score"))
        .select(F.col("node").alias("word"), "score")
        .orderBy(F.col("score").desc(), "word")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (BPE quality on multilingual data)
# ---------------------------------------------------------------------------


def _fertility_oracle_sql() -> str:
    from sparrow_spark.operators.text import BPE_TRAIN_MERGES, _bpe_oracle_sql

    k = BPE_TRAIN_MERGES
    chain = _bpe_oracle_sql(k)
    chain = chain[: chain.index("    SELECT 1 AS it")]
    return (
        chain
        + f"""    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(trim(v.syms, '|'), '|'))) AS BIGINT)
             AS n_symbols,
           round(sum(len(string_split(trim(v.syms, '|'), '|'))) /
                 CAST(count(*) AS DOUBLE), 4) AS fertility,
           round(sum(length(v.word)) /
                 CAST(sum(len(string_split(trim(v.syms, '|'), '|')))
                      AS DOUBLE), 4) AS chars_per_symbol
    FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS t
          FROM documents) d
    JOIN v{k} v ON v.word = d.t
    WHERE d.t <> ''
    GROUP BY d.lang
    ORDER BY d.lang"""
    )


@query("q_tokenizer_fertility", oracle=_fertility_oracle_sql())
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: symbols emitted per
    whitespace word under the BPE merges q_bpe_train learns — the
    standard multilingual-tokenizer health metric (a language with
    fertility far above the corpus average pays more sequence length
    per word, trains slower, and signals an under-represented
    vocabulary; chars-per-symbol is the inverse view). Closes the
    loop train -> encode (q_bpe_encode, per document) -> EVALUATE
    (per language).

    Scale: identical shape to the encoder — the corpus joins the
    trained word->segmentation table (vocabulary-sized, broadcast at
    scale) and folds exact BIGINT counts per language; one keyed
    shuffle on lang."""
    from sparrow_spark.operators.text import _bpe_vocab, bpe_train_rounds

    _, final_state = bpe_train_rounds(_bpe_vocab(spark, sf_dir))
    seg = final_state.select(
        "word",
        F.length("word").cast("bigint").alias("n_chars_w"),
        F.size(F.split(F.expr("trim(BOTH '|' FROM syms)"), "[|]"))
        .cast("bigint")
        .alias("n_syms_w"),
    )
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        tok.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms_w").cast("bigint").alias("n_symbols"),
            rnd(
                F.sum("n_syms_w") / F.count(F.lit(1)).cast("double"), 4
            ).alias("fertility"),
            rnd(
                F.sum("n_chars_w") / F.sum("n_syms_w").cast("double"), 4
            ).alias("chars_per_symbol"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute companion to k-anonymity)
# ---------------------------------------------------------------------------


@query(
    "q_l_diversity",
    oracle="""
    WITH cls AS (
      SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_band,
             lang, count(*) AS cnt
      FROM documents GROUP BY 1, 2, 3
    ), per_class AS (
      SELECT source, len_band,
             CAST(sum(cnt) AS BIGINT) AS group_n,
             CAST(count(*) AS BIGINT) AS l_distinct,
             CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM cls GROUP BY source, len_band
    )
    SELECT source, len_band, group_n, l_distinct,
           round(top_cnt / CAST(group_n AS DOUBLE), 4) AS top_frac,
           l_distinct >= 3 AND top_cnt * 2 <= group_n AS diverse
    FROM per_class
    ORDER BY source, len_band
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the sensitive-attribute companion to
    q_k_anonymity (operators/pipeline.py): a QI class (source, length
    band) that is large enough can STILL leak its members' sensitive
    value (here: lang) if nearly all of them share it. Reports
    distinct sensitive values per class and the dominant-value
    fraction; `diverse` applies distinct l >= 3 plus a 50%
    dominance cap (the practical recursive-(c,l) check, Machanavajjhala
    et al. 2007). Exact integer counts and one final division keep
    the audit partition-stable — no entropy term, whose float
    summation would reintroduce the r7 class of cross-engine flake.

    Scale: two keyed aggregates, both bounded by the QI x sensitive
    domain product, never corpus size."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    cls = docs.groupBy(
        "source",
        (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        "lang",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_class = cls.groupBy("source", "len_band").agg(
        F.sum("cnt").cast("bigint").alias("group_n"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    return per_class.select(
        "source",
        "len_band",
        "group_n",
        "l_distinct",
        rnd(F.col("top_cnt") / F.col("group_n").cast("double"), 4).alias(
            "top_frac"
        ),
        (
            (F.col("l_distinct") >= 3)
            & (F.col("top_cnt") * 2 <= F.col("group_n"))
        ).alias("diverse"),
    ).orderBy("source", "len_band")


# ---------------------------------------------------------------------------
# Grid-blocked kNN join with an exact recall audit
# ---------------------------------------------------------------------------

_GK_SAMPLE = 50


@query(
    "q_grid_knn_join",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST(floor(embedding[1] / {_GRID_W}) AS BIGINT) AS cx,
             CAST(floor(embedding[2] / {_GRID_W}) AS BIGINT) AS cy
      FROM embeddings
    ), cand AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
             (sqrt(list_sum([x * x for x in a.v])) *
              sqrt(list_sum([x * x for x in b.v]))) AS cos
      FROM e a JOIN e b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.vec_id <> b.vec_id
    ), approx AS (
      SELECT query_id, neighbor_id AS a_nb, cos AS a_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand QUALIFY rk = 1
    ), exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS e_nb,
             list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
             (sqrt(list_sum([x * x for x in a.v])) *
              sqrt(list_sum([x * x for x in b.v]))) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY
             list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
             (sqrt(list_sum([x * x for x in a.v])) *
              sqrt(list_sum([x * x for x in b.v]))) DESC, b.vec_id) AS rk
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_GK_SAMPLE}
      QUALIFY rk = 1
    ), audit AS (
      SELECT x.query_id, x.e_nb, x.cos AS e_cos, ap.a_nb, ap.a_cos
      FROM exact x LEFT JOIN approx ap ON ap.query_id = x.query_id
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_points,
      (SELECT CAST(count(*) AS BIGINT) FROM approx) AS n_with_candidate,
      round((SELECT count(*) FROM approx)
            / (SELECT CAST(count(*) AS DOUBLE) FROM e), 4) AS coverage,
      (SELECT CAST(count(*) AS BIGINT) FROM audit) AS n_sample,
      (SELECT CAST(sum(CASE WHEN a_nb = e_nb THEN 1 ELSE 0 END) AS BIGINT)
       FROM audit) AS n_exact_match,
      round((SELECT sum(CASE WHEN a_nb = e_nb THEN 1 ELSE 0 END)
             FROM audit)
            / (SELECT CAST(count(*) AS DOUBLE) FROM audit), 4) AS recall_at_1
    """,
)
def q_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-BLOCKED nearest-neighbor join: each point compares only
    against the 9 grid cells around it (the same fixed cells as
    q_dbscan_grid) instead of the whole corpus — the spatial-blocking
    member of the ANN family next to IVF (cluster-blocked) and LSH
    (hash-blocked). The recall audit runs the brute-force exact
    nearest neighbor for a 50-query sample and reports how often the
    blocked search finds the true top-1, plus corpus coverage (points
    with any in-block candidate at all) — low coverage or recall says
    the cell width is too small for the data density.

    Scale: candidate generation is a 9-offset explode + equi-join on
    cell keys, so pair volume is bounded by per-cell occupancy, never
    O(n^2); only the audit SAMPLE pays a brute-force pass (broadcast
    of 50 queries). Cosine folds are order-fixed array reductions
    (the q_similarity_topk convention), ties break on neighbor id,
    and every count is exact BIGINT."""
    from sparrow_spark.operators.similarity import cosine, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = widen(emb).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        l2_norm(F.col("embedding").cast("array<double>")).alias("vn"),
        F.floor(F.element_at("embedding", 1) / _GRID_W)
        .cast("bigint")
        .alias("cx"),
        F.floor(F.element_at("embedding", 2) / _GRID_W)
        .cast("bigint")
        .alias("cy"),
    ).localCheckpoint(eager=True)
    offsets = local_df(
        spark,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx int, dy int",
    )
    probes = vecs.join(offsets).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        (F.col("cx") + F.col("dx")).alias("nx"),
        (F.col("cy") + F.col("dy")).alias("ny"),
    )
    nbr = vecs.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )
    cand = (
        probes.join(nbr, ["nx", "ny"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    approx = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("neighbor_id").alias("a_nb"))
    )
    qsample = vecs.filter(F.col("vec_id") < _GK_SAMPLE).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    allc = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )
    exact = (
        allc.join(qsample, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("neighbor_id").alias("e_nb"))
    )
    audit = exact.join(approx, "query_id", "left")
    n_points = vecs.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    n_approx = approx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_with_candidate")
    )
    aud = audit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.sum(F.when(F.col("a_nb") == F.col("e_nb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_match"),
    )
    return (
        n_points.join(n_approx)
        .join(aud)
        .select(
            "n_points",
            "n_with_candidate",
            rnd(
                F.col("n_with_candidate") / F.col("n_points").cast("double"),
                4,
            ).alias("coverage"),
            "n_sample",
            "n_exact_match",
            rnd(
                F.col("n_exact_match") / F.col("n_sample").cast("double"), 4
            ).alias("recall_at_1"),
        )
    )


# ---------------------------------------------------------------------------
# Croston's method: forecasting intermittent demand
# ---------------------------------------------------------------------------


@query(
    "q_croston",
    oracle="""
    WITH RECURSIVE pk AS (
      SELECT min(l_partkey) AS p FROM lineitem
    ), nz AS (
      SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem WHERE l_partkey = (SELECT p FROM pk)
      GROUP BY d
    ), idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, d, x,
             date_diff('day', lag(d) OVER (ORDER BY d), d) AS q
      FROM nz
    ), rec AS (
      SELECT 1 AS i,
             (SELECT x FROM idx WHERE i = 1) AS z,
             CAST((SELECT q FROM idx WHERE i = 2) AS DOUBLE) AS p
      UNION ALL
      SELECT r.i + 1,
             0.2 * n.x + 0.8 * r.z,
             0.2 * n.q + 0.8 * r.p
      FROM rec r JOIN idx n ON n.i = r.i + 1
    )
    SELECT CAST((SELECT max(i) FROM idx) AS BIGINT) AS n_demand_points,
           CAST(date_diff('day', (SELECT min(d) FROM nz),
                          (SELECT max(d) FROM nz)) + 1 AS BIGINT)
             AS span_days,
           round(z, 4) AS size_ewma,
           round(p, 4) AS interval_ewma,
           round(z / p, 4) AS croston_rate,
           round((1 - 0.2 / 2) * z / p, 4) AS sba_rate
    FROM rec WHERE i = (SELECT max(i) FROM idx)
    """,
)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (alpha = 0.2): the
    sparsest forecasting regime — a single part ships on a few dozen
    scattered days across years, so ordinary smoothing of the daily
    series just decays toward zero between demands. Croston smooths
    TWO series instead: nonzero demand sizes and the intervals
    between them; rate = size/interval, plus the Syntetos-Boylan
    (1 - alpha/2) bias correction — the standard spare-parts /
    long-tail-SKU forecast next to the Holt and Holt-Winters members
    already registered.

    Scale: the fact scan filters to the part (partition-prunable at
    scale) and collapses to nonzero demand days; the recursion is an
    order-fixed struct fold over that bounded array (the q_holt_linear
    convention — recursive CTE on the DuckDB side because list_reduce
    mis-evaluates multi-field struct accumulators)."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = li.agg(F.min("l_partkey").alias("p"))
    nz = (
        widen(li)
        .join(pk, F.col("l_partkey") == F.col("p"))
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(F.sum("l_quantity").cast("double").alias("x"))
    )
    series = nz.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(
        F.expr("transform(s, e -> e.x)").alias("xs"),
        F.expr(
            "transform(slice(s, 2, size(s) - 1), (e, i) ->"
            " datediff(e.d, s[i].d))"
        ).alias("qs"),
        F.expr("datediff(s[size(s) - 1].d, s[0].d) + 1").alias("span_days"),
    )
    acc = F.expr(
        """
        aggregate(
          sequence(1, size(xs) - 1),
          struct(xs[0] AS z, cast(qs[0] AS double) AS p),
          (a, i) -> struct(
            0.2 * xs[i] + 0.8 * a.z AS z,
            0.2 * qs[i - 1] + 0.8 * a.p AS p))
        """
    )
    return series.select(
        F.size("xs").cast("bigint").alias("n_demand_points"),
        F.col("span_days").cast("bigint").alias("span_days"),
        acc.alias("acc"),
    ).select(
        "n_demand_points",
        "span_days",
        rnd("acc.z", 4).alias("size_ewma"),
        rnd("acc.p", 4).alias("interval_ewma"),
        rnd(F.col("acc.z") / F.col("acc.p"), 4).alias("croston_rate"),
        rnd(0.9 * F.col("acc.z") / F.col("acc.p"), 4).alias("sba_rate"),
    )


# ---------------------------------------------------------------------------
# Louvain local-moving round over the LSH near-duplicate graph
# ---------------------------------------------------------------------------


@query(
    "q_louvain_move",
    oracle=_MINHASH_BANDS_CTE
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS k FROM edges GROUP BY u
    ), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    scored AS (
      SELECT e.u, e.v, du.k AS ku, dv.k AS kv,
             4 * m.m - 2 * du.k * dv.k AS gain_num,
             row_number() OVER (
               PARTITION BY e.u
               ORDER BY 4 * m.m - 2 * du.k * dv.k DESC, e.v
             ) AS r
      FROM edges e
      JOIN deg du ON du.u = e.u
      JOIN deg dv ON dv.u = e.v
      CROSS JOIN m
    )
    SELECT u AS doc_id, ku AS degree, v AS best_target,
           CAST(gain_num AS BIGINT) AS gain_num,
           gain_num > 0 AS moved
    FROM scored WHERE r = 1
    ORDER BY doc_id
    """,
)
def q_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain local-moving round (Blondel et al.
    2008) from singleton communities over the LSH near-duplicate
    graph: node i joins neighbor j's community iff the modularity
    gain is positive. From singletons the gain for unit edges
    reduces to (4m - 2*k_i*k_j) / (2m)^2 — the numerator is EXACT
    BIGINT (the denominator is a shared positive constant, so argmax
    and the sign test need integers only; no float enters any
    comparison). The argmax therefore selects the minimum-degree
    neighbor with id tiebreak — reported per node with its gain so
    the next round's community table is this output. Scale shape:
    edges come from the band-bucket join (never all-pairs), degrees
    are one edge-keyed aggregate, and the move decision is one
    neighbor-keyed window over the pair-list-sized directed edge
    table — identical cost to a PageRank round, hub-safe because
    state per node is O(1). The modularity-GAIN criterion is what
    distinguishes this from q_label_propagation's majority vote: a
    hub with many low-degree neighbors attracts them only while
    k_i * k_j < 2m, the degree-product null model."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).localCheckpoint()
    edges = pairs.selectExpr("a_id AS u", "b_id AS v").union(
        pairs.selectExpr("b_id AS u", "a_id AS v")
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    m = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    du = deg.select(F.col("u").alias("u"), F.col("k").alias("ku"))
    dv = deg.select(F.col("u").alias("v"), F.col("k").alias("kv"))
    scored = (
        edges.join(du, "u")
        .join(dv, "v")
        .crossJoin(m)
        .withColumn(
            "gain_num", 4 * F.col("m") - 2 * F.col("ku") * F.col("kv")
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("u").orderBy(
                    F.desc("gain_num"), F.col("v")
                )
            ),
        )
        .filter(F.col("r") == 1)
    )
    return scored.select(
        F.col("u").alias("doc_id"),
        F.col("ku").alias("degree"),
        F.col("v").alias("best_target"),
        F.col("gain_num").cast("bigint").alias("gain_num"),
        (F.col("gain_num") > 0).alias("moved"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hilbert-curve layout vs Morton/z-order: the locality rematch
# ---------------------------------------------------------------------------


def _hilbert_round_exprs() -> list[tuple[str, str, str]]:
    """16 unrolled rounds of the classic xy2d Hilbert walk (the
    Wikipedia/Warren formulation): per round with s = 2^(15-i),
    rx/ry are the current quadrant bits, d accrues s^2 * (3*rx XOR
    ry) — written XOR-free as 3*rx + ry - 2*rx*ry since both are
    bits — and (x, y) rotate/flip when ry = 0. Emitted as SQL text
    used VERBATIM by both engines (shared &, >>, CASE syntax), so
    the arithmetic is structurally identical."""
    rounds = []
    for i in range(16):
        s = 1 << (15 - i)
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        d = (
            f"hd + CAST({s} AS BIGINT) * {s} * "
            f"(3 * {rx} + {ry} - 2 * {rx} * {ry})"
        )
        x = (
            f"CASE WHEN (hy & {s}) > 0 THEN hx "
            f"WHEN (hx & {s}) > 0 THEN 65535 - hy ELSE hy END"
        )
        y = (
            f"CASE WHEN (hy & {s}) > 0 THEN hy "
            f"WHEN (hx & {s}) > 0 THEN 65535 - hx ELSE hx END"
        )
        rounds.append((d, x, y))
    return rounds


def _hilbert_cte_chain() -> str:
    ctes = [
        "h0 AS (SELECT l_orderkey, l_linenumber, day_idx, pk_idx, z,"
        " day_idx AS hx, pk_idx AS hy, CAST(0 AS BIGINT) AS hd FROM zb)"
    ]
    for i, (d, x, y) in enumerate(_hilbert_round_exprs()):
        ctes.append(
            f"h{i + 1} AS (SELECT l_orderkey, l_linenumber, day_idx,"
            f" pk_idx, z, {x} AS hx, {y} AS hy, {d} AS hd FROM h{i})"
        )
    return ", ".join(ctes)


@query(
    "q_hilbert_curve_layout",
    oracle=_ZM_BASE_CTE.replace(") , ranked", "), ranked").split("), ranked")[0]
    + f"""
    ), {_hilbert_cte_chain()}, ranked AS (
      SELECT 'zorder' AS layout,
             row_number() OVER (ORDER BY z, l_orderkey, l_linenumber,
                                day_idx, pk_idx) AS rn,
             day_idx, pk_idx
      FROM h16
      UNION ALL
      SELECT 'hilbert',
             row_number() OVER (ORDER BY hd, l_orderkey, l_linenumber,
                                day_idx, pk_idx),
             day_idx, pk_idx
      FROM h16
    ), zones AS (
      SELECT layout, (rn - 1) // {_ZM_ROWS_PER_FILE} AS file_id,
             min(day_idx) AS d_min, max(day_idx) AS d_max,
             min(pk_idx) AS p_min, max(pk_idx) AS p_max,
             count(*) AS n_rows
      FROM ranked GROUP BY layout, file_id
    ), verdicts AS (
      SELECT layout, n_rows,
             (d_max - d_min + 1) * (p_max - p_min + 1) AS area,
             CASE WHEN d_max < {_ZM_DAY_LO} OR d_min > {_ZM_DAY_HI}
                    OR p_min > (SELECT pk_max FROM mm) // 5
                  THEN 1 ELSE 0 END AS skipped
      FROM zones
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(skipped) AS BIGINT) AS n_skipped,
           CAST(sum(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(sum(area) * 100 // count(*) AS BIGINT) AS avg_zone_area_e2
    FROM verdicts GROUP BY layout ORDER BY layout
    """,
)
def q_hilbert_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout vs Morton/z-order on the SAME table, file
    size, and 2-D predicate as q_zonemap_skipping — the locality
    rematch behind Databricks' liquid clustering and Iceberg's
    hilbert ordering: Morton's bit interleave has long diagonal
    jumps (adjacent codes can be far apart in space), while the
    Hilbert walk is fully contiguous, so Hilbert files bound TIGHTER
    rectangles (reported as avg zone area) and skip at least as well
    on box predicates. The Hilbert index is the classic xy2d walk
    unrolled into 16 bit-arithmetic rounds emitted as IDENTICAL SQL
    text for both engines (XOR-free bit algebra, exact BIGINTs), so
    the code — like the z-interleave next to it — is a pure
    expression Catalyst pipelines into the scan stage: at 100 TB the
    clustering key costs one projection, and file ids come from
    global_sort_ranks, never a single-task sort. The invariant test
    pins the SQL walk bit-exactly to a reference Python xy2d over
    sampled points."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max("l_partkey").alias("pk_max"),
    )
    base = (
        widen(li)
        .join(mm)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.to_date("l_shipdate"), F.col("d0"))
            .bitwiseAND(65535)
            .alias("day_idx"),
            F.col("l_partkey").bitwiseAND(65535).alias("pk_idx"),
            F.col("pk_max"),
        )
        .withColumn("z", F.expr(_z_interleave_sql("day_idx", "pk_idx")))
        .withColumn("hx", F.col("day_idx"))
        .withColumn("hy", F.col("pk_idx"))
        .withColumn("hd", F.lit(0).cast("bigint"))
    )
    keep = ["l_orderkey", "l_linenumber", "day_idx", "pk_idx", "pk_max", "z"]
    cur = base
    for d, x, y in _hilbert_round_exprs():
        cur = cur.select(
            *keep,
            F.expr(x).alias("hx"),
            F.expr(y).alias("hy"),
            F.expr(d).alias("hd"),
        )
    # Same pinning rationale as q_zonemap_skipping: both rank passes
    # and the offset tables must read one materialization.
    cur = cur.localCheckpoint(eager=True)
    layouts = {
        "zorder": ["z", "l_orderkey", "l_linenumber", "day_idx", "pk_idx"],
        "hilbert": ["hd", "l_orderkey", "l_linenumber", "day_idx", "pk_idx"],
    }
    ranked = None
    for name, keys in layouts.items():
        r = global_sort_ranks(cur, keys).select(
            F.lit(name).alias("layout"),
            ((F.col("rn") - 1) / _ZM_ROWS_PER_FILE).cast("bigint").alias("file_id"),
            "day_idx",
            "pk_idx",
            "pk_max",
        )
        ranked = r if ranked is None else ranked.unionByName(r)
    zones = ranked.groupBy("layout", "file_id").agg(
        F.min("day_idx").alias("d_min"),
        F.max("day_idx").alias("d_max"),
        F.min("pk_idx").alias("p_min"),
        F.max("pk_idx").alias("p_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.first("pk_max").alias("pk_max"),
    )
    skipped = (
        (F.col("d_max") < _ZM_DAY_LO)
        | (F.col("d_min") > _ZM_DAY_HI)
        | (F.col("p_min") > F.expr("pk_max DIV 5"))
    ).cast("int")
    area = (F.col("d_max") - F.col("d_min") + 1) * (
        F.col("p_max") - F.col("p_min") + 1
    )
    return (
        zones.withColumn("skipped", skipped)
        .withColumn("area", area)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("skipped").cast("bigint").alias("n_skipped"),
            F.sum(
                F.when(F.col("skipped") == 0, F.col("n_rows")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_scanned"),
            F.expr(
                "CAST(sum(area) * 100 DIV count(*) AS BIGINT)"
            ).alias("avg_zone_area_e2"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Learned-index error audit: how far is rank(key) from linear?
# ---------------------------------------------------------------------------


@query(
    "q_learned_index_error",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT l_orderkey AS k FROM lineitem
    ), ranked AS (
      SELECT k, row_number() OVER (ORDER BY k) AS rn FROM keys
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(rn) AS BIGINT) AS sr,
             CAST(sum(k * k) AS BIGINT) AS skk,
             CAST(sum(k * rn) AS BIGINT) AS skr
      FROM ranked
    ), wide AS (
      SELECT n, sk, sr,
             CAST(CAST(n AS HUGEINT) * skr
                  - CAST(sk AS HUGEINT) * sr AS DOUBLE) AS num,
             CAST(CAST(n AS HUGEINT) * skk
                  - CAST(sk AS HUGEINT) * sk AS DOUBLE) AS den
      FROM m
    ), fit AS (
      SELECT n, num / den AS b,
             (sr - (num / den) * sk) / n AS a
      FROM wide
    ), errs AS (
      SELECT fit.n, fit.a, fit.b,
             CAST(round(abs(rn - (fit.a + fit.b * k)) * 10000, 0)
                  AS BIGINT) AS e4
      FROM ranked, fit
    )
    SELECT n AS n_keys,
           round(b, 9) AS slope,
           round(a, 4) AS intercept,
           CAST(max(e4) AS BIGINT) AS max_err_e4,
           CAST(sum(e4) // n AS BIGINT) AS mean_err_e4
    FROM errs GROUP BY n, a, b
    """,
)
def q_learned_index_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-index error audit (Kraska et al., SIGMOD'18): fit the
    single-segment linear model position ~ key over the sorted
    distinct order keys and report the max and mean absolute
    prediction error — max_err IS the last-mile search window a
    one-segment RMI would need on this key distribution (a
    near-uniform synthetic key space should be almost perfectly
    linear; real skew shows up as a fat max/mean gap telling you how
    many model segments to budget). The fit is closed-form OLS on
    five exact BIGINT moments from ONE pass over the ranked key
    table; ranks come from global_sort_ranks (range partition +
    local rank + broadcast offsets — the oracle does the single-task
    window we refuse); per-key errors are rounded to e4 fixed-point
    BEFORE summing so the mean is an exact integer division, immune
    to float partial-aggregation order (the r7 flake class). Moment
    magnitudes bound BIGINT up to ~sf1; beyond that the documented
    rescale (keys DIV 10) applies."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    ranked = global_sort_ranks(keys, ["k"]).select("k", "rn").localCheckpoint()
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum("rn").cast("bigint").alias("sr"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        F.sum(F.col("k") * F.col("rn")).cast("bigint").alias("skr"),
    )
    # The cross products exceed BIGINT at sf0.1+ — compute them in
    # exact DECIMAL(38,0) (the oracle uses HUGEINT) and round to
    # double ONCE, so both engines divide the same two exact values.
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = (dec("n") * dec("skr") - dec("sk") * dec("sr")).cast("double")
    den = (dec("n") * dec("skk") - dec("sk") * dec("sk")).cast("double")
    b = num / den
    fit = m.select(
        "n",
        b.alias("b"),
        ((F.col("sr") - b * F.col("sk")) / F.col("n")).alias("a"),
    )
    errs = ranked.crossJoin(fit).select(
        "n",
        "a",
        "b",
        rnd(
            F.abs(F.col("rn") - (F.col("a") + F.col("b") * F.col("k")))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("e4"),
    )
    return errs.groupBy("n", "a", "b").agg(
        F.max("e4").cast("bigint").alias("max_err_e4"),
        F.expr("CAST(sum(e4) DIV n AS BIGINT)").alias("mean_err_e4"),
    ).select(
        F.col("n").alias("n_keys"),
        rnd(F.col("b"), 9).alias("slope"),
        rnd(F.col("a"), 4).alias("intercept"),
        "max_err_e4",
        "mean_err_e4",
    )


# ---------------------------------------------------------------------------
# AQE skew-join split audit — the AUTOMATIC twin of q_skew_join_salted
# ---------------------------------------------------------------------------


@query(
    "q_aqe_skew_split",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN event_id % 10 < 9 THEN 0
                  ELSE event_id % 97 + 1 END AS k,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), dim AS (
      SELECT i AS k, CAST(i * 2 AS BIGINT) AS w FROM range(0, 98) t(i)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents * w) AS BIGINT) AS weighted_cents,
           CAST(TRUE AS BOOLEAN) AS skew_split_applied
    FROM fact JOIN dim USING (k)
    """,
)
def q_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join split audit — the AUTOMATIC twin of
    q_skew_join_salted's manual salting: a deliberately skewed fact
    (~90% of rows on one hot key) sort-merge-joins a 98-row dim with
    broadcast disabled, and AQE must split the hot reduce partition at
    runtime (the executed plan shows SortMergeJoin(skew=true) over an
    `AQEShuffleRead skewed`). The plan is asserted, not assumed:
    skew_split_applied comes from the executed plan and is
    hash-checked by the oracle; the exact-BIGINT join aggregate proves
    the split is lossless (skew slices replicate the dim side, so a
    bug would double-count).

    Two scale lessons are load-bearing here: (1) AQE splits a skewed
    reduce partition into MAPPER-RANGE slices, so a single-mapper
    upstream stage is unsplittable — the fact side is explicitly
    repartitioned to 8 map tasks first, the same reason tiny-file or
    coalesce(1) stages defeat skew handling on real clusters; (2) the
    skew thresholds are bytes of shuffle data, so the audit scopes
    them (restored in finally) to fire at fixture scale — production
    leaves the 256 MB defaults. A third constraint shapes the query
    itself: the operator ABOVE the join must not require the join
    output's hash partitioning (a keyed or distinct aggregate would),
    because splitting the hot partition breaks that guarantee and AQE
    then declines the rewrite rather than insert an extra exchange —
    so the audit aggregates globally. Salting (the manual twin)
    remains the portable fallback when the engine lacks AQE."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        # 8 map tasks: skew slices are mapper ranges (lesson 1 above).
        .repartition(8, "event_id")
    )
    fact = ev.select(
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("event_id") % 97 + 1)
        .alias("k"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = spark.range(0, 98).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("bigint").alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256b",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg = fact.join(dim, "k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("cents") * F.col("w")).cast("bigint").alias(
                "weighted_cents"
            ),
        )
        # collect() (not first(): that plans its own limited
        # QueryExecution) so executedPlan() below is the plan that
        # actually ran — the q_agg_pushdown discipline.
        rows = agg.collect()
        split = "skew=true" in (
            agg._jdf.queryExecution().executedPlan().toString()
        )
        row = rows[0]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return local_df(
        spark,
        [(row.n_rows, row.weighted_cents, split)],
        "n_rows bigint, weighted_cents bigint, skew_split_applied boolean",
    )


@query(
    "q_aqe_coalesce_audit",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars,
           CAST(TRUE AS BOOLEAN) AS shuffle_coalesced
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_aqe_coalesce_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE shuffle-partition coalescing audit — the third leg of the
    runtime-optimizer trio (with q_dpp_runtime_prune and
    q_aqe_skew_split): a plain grouped aggregate shuffles into the
    session's static partition count (32), and AQE must fuse the
    resulting undersized reduce partitions at runtime — the executed
    plan shows `AQEShuffleRead coalesced` between the exchange and the
    final aggregate. Asserted from the executed plan as an
    oracle-checked boolean next to the exact aggregate values (the
    q_agg_pushdown pattern); no confs are touched — this is the
    session's standing configuration doing its job.

    Scale: static shuffle.partitions is sized for the LARGEST stage of
    the LARGEST query; every smaller stage would otherwise fragment
    into thousands of near-empty tasks (scheduler overhead + tiny-file
    outputs). Runtime coalescing is what makes one global setting
    workable across a 100 TB workload mix — the number of reduce
    tasks tracks actual map-output bytes (ceil(bytes/advisory size)),
    not the static knob."""
    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("chars"),
        )
        .orderBy("lang")
    )
    rows = agg.collect()
    coalesced = "coalesced" in (
        agg._jdf.queryExecution().executedPlan().toString()
    )
    return local_df(
        spark,
        [(r.lang, r.n_docs, r.chars, coalesced) for r in rows],
        "lang string, n_docs bigint, chars bigint, shuffle_coalesced boolean",
    ).orderBy("lang")
