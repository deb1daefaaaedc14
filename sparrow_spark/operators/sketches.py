"""Probabilistic sketch operators for corpus-scale approximation:
count-min sketch (frequency estimation) and Bloom-filter join pruning
(runtime semi-join filters). Beyond-reference extensions built from
deterministic md5-based hash families so the DuckDB oracle reproduces
every bucket bit-for-bit — no engine-specific hash() anywhere.

Scale design:
- count-min: the sketch is a (depth x width) table built by ONE explode
  + ONE groupBy with map-side combine — the classic streaming sketch as
  a batch aggregate. Estimation joins the (tiny, broadcast) sketch back
  on bucket id: estimates never touch the corpus again.
- bloom: the filter is a distinct set of (depth x width) bit positions
  from the SMALL side, collapsed to one array row and broadcast; the
  big side is pre-filtered by array membership before the exact join —
  the manual form of the runtime bloom-filter pushdown a warehouse
  applies to selective joins (false positives possible, false negatives
  impossible, exact join afterwards removes FPs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.operators.text import _text_shingles, tokens
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, materialize, widen

CM_DEPTH = 4
CM_WIDTH = 256
BLOOM_K = 4
BLOOM_BITS = 4096


def _bucket(col: Column, seed: int, width: int) -> Column:
    """Deterministic hash bucket in [0, width): the first 8 hex chars of
    md5(seed || value), mod width — reproducible in any SQL engine."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10)
    return (h.cast("bigint") % width).cast("bigint")


def countmin_from_counts(
    counts: DataFrame,
    item_col: str = "item",
    count_col: str = "n",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Sketch from pre-aggregated (item, count) rows: sketch[d][b] =
    sum of counts of items hashing to b — identical to counting raw
    occurrences, but the explode runs over DISTINCT items (vocab-sized),
    not the corpus, and the corpus aggregation is shared with any other
    consumer of the counts (exchange reuse)."""
    rows = counts.select(
        F.col(count_col).alias("__n"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    _bucket(F.col(item_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ])
        ).alias("db"),
    ).select("__n", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    return rows.groupBy("d", "bucket").agg(F.sum("__n").cast("bigint").alias("c"))


def countmin_estimate(
    queries_df: DataFrame,
    sketch: DataFrame,
    item_col: str = "item",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point estimates: est(x) = min over d of sketch[d][bucket_d(x)].
    The sketch is tiny -> broadcast equi-join on (d, bucket)."""
    probes = queries_df.select(
        F.col(item_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    _bucket(F.col(item_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ])
        ).alias("db"),
    ).select(item_col, F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy(item_col)
        .agg(F.min("c").alias("est"))
    )


def _bloom_positions(col: Column, k: int = BLOOM_K, bits: int = BLOOM_BITS) -> Column:
    """Array of k bit positions for a value (same md5 family)."""
    return F.array(*[_bucket(col, 1000 + i, bits) for i in range(k)])


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """One row holding the sorted distinct bit positions set by all
    keys — the Bloom filter as a broadcastable array (at BLOOM_BITS
    positions it is bounded regardless of key count)."""
    return (
        keys.select(F.explode(_bloom_positions(F.col(key_col))).alias("pos"))
        .distinct()
        .agg(F.array_sort(F.collect_list("pos")).alias("bloom"))
    )


def bloom_might_contain(col: Column, bloom: Column) -> Column:
    """True iff ALL k positions of col are set (no false negatives)."""
    return F.forall(
        _bloom_positions(col), lambda p: F.array_contains(bloom, p)
    )


# --------------------------------------------------------------------------
# Registered queries + DuckDB oracles
# --------------------------------------------------------------------------
def _bucket_sql(expr: str, seed: int, width: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 8))::UBIGINT "
        f"% {width} AS BIGINT)"
    )


_CM_PROBE_STRUCTS = ", ".join(
    f"struct_pack(d := {d}, bucket := " + _bucket_sql("tok", d, CM_WIDTH) + ")"
    for d in range(CM_DEPTH)
)


@query(
    "q_countmin_sketch",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), exact AS (
      SELECT tok, count(*) AS exact FROM tok GROUP BY tok
    ), buckets AS (
      SELECT exact, unnest([{_CM_PROBE_STRUCTS}], recursive := true) FROM exact
    ), sketch AS (
      SELECT d, bucket, CAST(sum(exact) AS BIGINT) AS c
      FROM buckets GROUP BY d, bucket
    ), heavy AS (
      SELECT tok, exact FROM exact
      WHERE exact >= 0.01 * (SELECT sum(exact) FROM exact)
    ), probe AS (
      SELECT tok, unnest([{_CM_PROBE_STRUCTS}], recursive := true) FROM heavy
    ), est AS (
      SELECT p.tok, min(s.c) AS est
      FROM probe p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
      GROUP BY p.tok
    )
    SELECT h.tok, h.exact, e.est, (e.est - h.exact) AS overcount
    FROM heavy h JOIN est e ON h.tok = e.tok
    ORDER BY h.exact DESC, h.tok
    """,
)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, checked against exact
    counts for the corpus heavy hitters. CM guarantees est >= exact
    (overcount >= 0, bounded by collisions) — both sides and the sketch
    itself are deterministic, so the oracle matches bit-for-bit. Scale:
    sketch build is one explode + one keyed groupBy (map-side combine);
    estimation probes join the broadcast depth*width table."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact"))
    # ONE corpus aggregation feeds sketch, heavy hitters and estimates:
    # the sketch sums pre-aggregated counts per bucket (identical table,
    # vocab-sized explode instead of a second corpus pass).
    sketch = countmin_from_counts(exact, "tok", "exact")
    total = exact.agg(F.sum("exact").alias("t"))
    heavy = (
        exact.join(total)
        .filter(F.col("exact") >= 0.01 * F.col("t"))
        .select("tok", "exact")
    )
    est = countmin_estimate(heavy, sketch, "tok")
    return (
        heavy.join(est, "tok")
        .select(
            "tok",
            "exact",
            "est",
            (F.col("est") - F.col("exact")).alias("overcount"),
        )
        .orderBy(F.col("exact").desc(), "tok")
    )


_BLOOM_POS_SQL = ", ".join(
    _bucket_sql("o_custkey::VARCHAR", 1000 + i, BLOOM_BITS) for i in range(BLOOM_K)
)
_BLOOM_KEY_POS_SQL = ", ".join(
    _bucket_sql("c_custkey::VARCHAR", 1000 + i, BLOOM_BITS) for i in range(BLOOM_K)
)


@query(
    "q_bloom_filter_semi",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), bloom AS (
      SELECT list_sort(list_distinct(flatten(
        list([{_BLOOM_KEY_POS_SQL}])))) AS bits
      FROM dim
    )
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o, bloom b
    WHERE len(list_filter([{_BLOOM_POS_SQL}],
              p -> list_contains(b.bits, p))) = {BLOOM_K}
    ORDER BY o.o_orderkey
    """,
)
def q_bloom_filter_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning: build a bit-position filter from
    the selective dimension (customers in one segment), broadcast it,
    and keep the orders whose custkey MIGHT be in the set (false
    positives allowed, false negatives impossible — the exact join a
    real plan runs afterwards removes FPs). The manual form of the
    runtime bloom pushdown warehouses inject into selective joins; at
    100 TB this skips the fact-side shuffle for non-qualifying rows.
    Registered output is the filter's verdict itself so the oracle
    checks the sketch, not just the final join."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bloom = bloom_build(cust.select(F.col("c_custkey").cast("string").alias("k")), "k")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(bloom)
        .filter(
            bloom_might_contain(F.col("o_custkey").cast("string"), F.col("bloom"))
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


@query(
    "q_hll_union",
    oracle="""
    WITH per_type AS (
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type
    )
    SELECT CAST((SELECT count(*) FROM per_type) AS BIGINT) AS n_sketches,
           CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
             AS n_exact_users,
           CAST((SELECT sum(n_users) FROM per_type) AS BIGINT)
             AS naive_sum_users,
           true AS merged_within_5pct
    """,
)
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    Spark's hll_sketch_agg / hll_union_agg): build one user-cardinality
    sketch PER EVENT TYPE, then merge the sketches — never the raw
    ids — into the global distinct-user estimate. This is the
    pre-aggregation pattern that makes distinct counts cheap at 100 TB:
    per-partition/per-day sketches are tiny (KBs), additive, and
    reusable, where re-scanning raw ids for every global rollup is a
    corpus pass. The output carries the NAIVE per-group sum too — the
    wrong answer double-counting cross-group users — so the result
    demonstrates the sketch union is deduplicating, not just adding.

    Engines' sketch bytes differ, so (the q_approx_distinct contract)
    the oracle checks the exact count and a bounded-relative-error
    verdict: DataSketches HLL at default lgK=12 has rse ~0.8 percent,
    far inside the 5 percent bound at any cardinality."""
    events = load_table(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_users"),
    )
    merged = sk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum("n_users").cast("bigint").alias("naive_sum_users"),
    )
    exact = events.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact_users")
    )
    return merged.crossJoin(exact).select(
        "n_sketches",
        "n_exact_users",
        "naive_sum_users",
        (
            F.abs(F.col("est") - F.col("n_exact_users"))
            <= 0.05 * F.col("n_exact_users")
        ).alias("merged_within_5pct"),
    )


KMV_K = 64


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH tok AS (
      SELECT lang, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT lang,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT DISTINCT lang, substr(md5(shingle), 1, 8) AS h FROM sh
    ), ranked AS (
      SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS r,
             count(*) OVER (PARTITION BY lang) AS exact_distinct
      FROM hashed
    ), kth AS (
      SELECT lang, CAST(exact_distinct AS BIGINT) AS exact_distinct,
             list_sum([(strpos('0123456789abcdef', h[i:i]) - 1)
                       * 16 ** (8 - i) for i in range(1, 9)]) AS hk
      FROM ranked WHERE r = {KMV_K}
    )
    SELECT lang, exact_distinct,
           round(({KMV_K} - 1) * 4294967296.0 / hk, 2) AS kmv_est,
           round(abs(({KMV_K} - 1) * 4294967296.0 / hk - exact_distinct)
                 / exact_distinct, 4) AS rel_error
    FROM kth ORDER BY lang
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch built from first
    principles (Bar-Yossef et al. 2002): hash every distinct shingle
    to [0, 2^32), keep the k smallest per group; the k-th smallest
    hash h_k estimates the distinct count as (k-1) * 2^32 / h_k. The
    exact count rides along so the output IS the accuracy audit
    (expected relative error ~ 1/sqrt(k-2) ~= 13% at k=64). Unlike
    q_hll_union (library sketch, bounded-error contract), every bit
    here is engine-portable — the oracle reproduces the ESTIMATE
    exactly, not just the truth.

    Scale: one explode + distinct (keyed shuffle), then a per-group
    rank confined to each group's k smallest — at scale the k-smallest
    set is a mergeable per-partition top-k (no global sort); the
    estimate itself is arithmetic on one row per group."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(widen(docs).select("lang", "text"), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    sh = toks.select(
        "lang", F.explode(_text_shingles(F.col("w"), 3)).alias("shingle")
    ).distinct()
    hashed = sh.select(
        "lang", F.substring(F.md5("shingle"), 1, 8).alias("h")
    ).distinct()
    from pyspark.sql import Window as W

    win = W.partitionBy("lang").orderBy("h")
    cw = W.partitionBy("lang")
    ranked = hashed.withColumn("r", F.row_number().over(win)).withColumn(
        "exact_distinct", F.count(F.lit(1)).over(cw)
    )
    kth = ranked.filter(F.col("r") == KMV_K).select(
        "lang",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.conv("h", 16, 10).cast("double").alias("hk"),
    )
    est = (KMV_K - 1) * F.lit(4294967296.0) / F.col("hk")
    return kth.select(
        "lang",
        "exact_distinct",
        rnd(est, 2).alias("kmv_est"),
        rnd(F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
            "rel_error"
        ),
    ).orderBy("lang")


@query(
    "q_kmv_intersection",
    oracle=f"""
    WITH tok AS (
      SELECT source, string_split(lower(text), ' ') AS w FROM documents
      WHERE source IN ('src0', 'src1')
        AND len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT source,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT DISTINCT source, substr(md5(shingle), 1, 8) AS h FROM sh
    ), ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS r
      FROM hashed
    ), sketches AS (
      SELECT source, h FROM ranked WHERE r <= {KMV_K}
    ), union_ranked AS (
      SELECT h, row_number() OVER (ORDER BY h) AS r
      FROM (SELECT DISTINCT h FROM sketches)
    ), u_k AS (
      SELECT h FROM union_ranked WHERE r <= {KMV_K}
    ), kth AS (
      SELECT max(h) AS hk FROM u_k
    ), rho AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_both
      FROM u_k
      WHERE h IN (SELECT h FROM sketches WHERE source = 'src0')
        AND h IN (SELECT h FROM sketches WHERE source = 'src1')
    ), u_est AS (
      SELECT ({KMV_K} - 1) * 4294967296.0
             / list_sum([(strpos('0123456789abcdef', hk[i:i]) - 1)
                         * 16 ** (8 - i) for i in range(1, 9)]) AS est
      FROM kth
    ), exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_intersection
      FROM (SELECT shingle FROM sh WHERE source = 'src0'
            INTERSECT
            SELECT shingle FROM sh WHERE source = 'src1')
    )
    SELECT CAST(r.n_both AS BIGINT) AS k_overlap,
           round(u.est, 2) AS union_est,
           round(r.n_both / {KMV_K} * u.est, 2) AS intersection_est,
           e.exact_intersection
    FROM rho r, u_est u, exact e
    """,
)
def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: estimate |A ∩ B| of two sources'
    shingle sets from their k-minimum-values sketches alone — the
    union sketch is the k smallest of the merged sketches, its k-th
    value estimates |A ∪ B|, and the fraction of union-sketch hashes
    present in BOTH input sketches scales that into the intersection
    (Beyer et al., SIGMOD'07). Every bit is engine-portable (md5
    prefix hash, pure arithmetic), so the oracle reproduces the
    ESTIMATE exactly and the exact intersection rides along as the
    accuracy audit — the sketch-algebra foundation for 'how much do
    these crawls overlap?' without ever joining the corpora.

    Scale: per-source sketches are k-row tables (mergeable bottom-k
    partials, no global sort); all set algebra happens on 2k rows."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = materialize(
        widen(docs).select("source", "text"), w=tokens(F.col("text"))
    ).filter(F.size("w") >= 3)
    sh = toks.select(
        "source", F.explode(_text_shingles(F.col("w"), 3)).alias("shingle")
    ).distinct()
    hashed = sh.select(
        "source", F.substring(F.md5("shingle"), 1, 8).alias("h")
    ).distinct()
    sketches = (
        hashed.withColumn(
            "r", F.row_number().over(W.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("r") <= KMV_K)
        .select("source", "h")
    )
    u_k = (
        sketches.select("h")
        .distinct()
        .withColumn("r", F.row_number().over(W.orderBy("h")))
        .filter(F.col("r") <= KMV_K)
        .select("h")
    )
    hk = u_k.agg(F.max("h").alias("hk")).select(
        F.conv("hk", 16, 10).cast("double").alias("hk")
    )
    a = sketches.filter(F.col("source") == "src0").select("h")
    b = sketches.filter(F.col("source") == "src1").select("h")
    n_both = (
        u_k.join(a, "h", "left_semi")
        .join(b, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("double").alias("n_both"))
    )
    exact = (
        sh.filter(F.col("source") == "src0")
        .select("shingle")
        .intersect(sh.filter(F.col("source") == "src1").select("shingle"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    u_est = (KMV_K - 1) * F.lit(4294967296.0) / F.col("hk")
    return (
        n_both.crossJoin(hk)
        .crossJoin(exact)
        .select(
            F.col("n_both").cast("bigint").alias("k_overlap"),
            rnd(u_est, 2).alias("union_est"),
            rnd(F.col("n_both") / KMV_K * u_est, 2).alias(
                "intersection_est"
            ),
            "exact_intersection",
        )
    )


@query(
    "q_bloom_fpr",
    oracle="""
    WITH a_tok AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE source = 'src0'
    ), b_tok AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE source = 'src1'
    ), bits AS (
      SELECT DISTINCT
             unnest([
               list_sum([(strpos('0123456789abcdef',
                                 substr(md5('h1:' || w), i, 1)) - 1)
                         * 16 ** (6 - i) for i in range(1, 7)]) % 4096,
               list_sum([(strpos('0123456789abcdef',
                                 substr(md5('h2:' || w), i, 1)) - 1)
                         * 16 ** (6 - i) for i in range(1, 7)]) % 4096,
               list_sum([(strpos('0123456789abcdef',
                                 substr(md5('h3:' || w), i, 1)) - 1)
                         * 16 ** (6 - i) for i in range(1, 7)]) % 4096
             ]) AS bit
      FROM a_tok
    ), probes AS (
      SELECT b.w,
             list_sum([(strpos('0123456789abcdef',
                               substr(md5('h1:' || b.w), i, 1)) - 1)
                       * 16 ** (6 - i) for i in range(1, 7)]) % 4096 AS p1,
             list_sum([(strpos('0123456789abcdef',
                               substr(md5('h2:' || b.w), i, 1)) - 1)
                       * 16 ** (6 - i) for i in range(1, 7)]) % 4096 AS p2,
             list_sum([(strpos('0123456789abcdef',
                               substr(md5('h3:' || b.w), i, 1)) - 1)
                       * 16 ** (6 - i) for i in range(1, 7)]) % 4096 AS p3,
             b.w IN (SELECT w FROM a_tok) AS truly_in
      FROM b_tok b
    ), verdicts AS (
      SELECT w, truly_in,
             p1 IN (SELECT bit FROM bits)
             AND p2 IN (SELECT bit FROM bits)
             AND p3 IN (SELECT bit FROM bits) AS bloom_hit
      FROM probes
    )
    SELECT CAST((SELECT count(*) FROM a_tok) AS BIGINT) AS n_inserted,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(sum(CASE WHEN truly_in AND NOT bloom_hit
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_negatives,
           CAST(sum(CASE WHEN NOT truly_in AND bloom_hit
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives,
           CAST(sum(CASE WHEN NOT truly_in THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_negatives_probed
    FROM verdicts
    """,
)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built from first principles (m=4096 bits, k=3
    md5-derived hash positions — engine-portable bit for bit): src0's
    token set inserts, src1's tokens probe, and the audit reports the
    structural guarantees — ZERO false negatives by construction, and
    a measured false-positive count among src1-only tokens (expected
    rate (1 - e^{-kn/m})^k). The membership-pruning primitive behind
    the sketches module's join pruning, here with its error contract
    made checkable.

    Scale: the bit set is a 4096-row table (at real scale a bitmap in
    an aggregate buffer / a broadcast long array); build and probe are
    hash arithmetic plus semi-joins on bit position."""
    docs = load_table(spark, sf_dir, "documents")
    a_tok = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    b_tok = (
        docs.filter(F.col("source") == "src1")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )

    def pos(prefix):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix + ":"), F.col("w"))), 1, 6),
            16,
            10,
        ).cast("bigint") % 4096

    bits = (
        a_tok.select(
            F.explode(F.array(pos("h1"), pos("h2"), pos("h3"))).alias("bit")
        )
        .distinct()
    )
    probes = b_tok.select(
        "w",
        pos("h1").alias("p1"),
        pos("h2").alias("p2"),
        pos("h3").alias("p3"),
    ).join(
        a_tok.select(F.col("w"), F.lit(True).alias("truly_in")), "w", "left"
    ).withColumn("truly_in", F.coalesce("truly_in", F.lit(False)))
    bitset = bits.select(F.col("bit").alias("b"))
    hit = probes
    for p in ("p1", "p2", "p3"):
        hit = (
            hit.join(
                bitset.withColumnRenamed("b", f"_{p}"),
                F.col(p) == F.col(f"_{p}"),
                "left",
            )
            .withColumn(f"hit_{p}", F.col(f"_{p}").isNotNull())
            .drop(f"_{p}")
        )
    verdicts = hit.withColumn(
        "bloom_hit",
        F.col("hit_p1") & F.col("hit_p2") & F.col("hit_p3"),
    )
    n_ins = a_tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_inserted"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    return (
        verdicts.agg(
            F.sum(
                F.when(F.col("truly_in") & ~F.col("bloom_hit"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_negatives"),
            F.sum(
                F.when(~F.col("truly_in") & F.col("bloom_hit"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_positives"),
            F.sum(F.when(~F.col("truly_in"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true_negatives_probed"),
        )
        .crossJoin(n_ins)
        .crossJoin(n_bits)
        .select(
            "n_inserted",
            "n_bits_set",
            "n_false_negatives",
            "n_false_positives",
            "n_true_negatives_probed",
        )
    )


# ---------------------------------------------------------------------------
# Count-min width sweep: measured error vs the epsilon = e/width bound
# ---------------------------------------------------------------------------

_CMS_SWEEP_WIDTHS = [64, 256, 1024]


def _cms_sweep_oracle() -> str:
    def structs(w: int) -> str:
        return ", ".join(
            f"struct_pack(d := {d}, bucket := " + _bucket_sql("tok", d, w) + ")"
            for d in range(CM_DEPTH)
        )

    per_width = []
    for w in _CMS_SWEEP_WIDTHS:
        per_width.append(f"""
    sk_{w} AS (
      SELECT d, bucket, CAST(sum(exact) AS BIGINT) AS c
      FROM (SELECT exact, unnest([{structs(w)}], recursive := true)
            FROM exact)
      GROUP BY d, bucket
    ), est_{w} AS (
      SELECT p.tok, CAST(min(s.c) AS BIGINT) AS est
      FROM (SELECT tok, unnest([{structs(w)}], recursive := true)
            FROM exact) p
      JOIN sk_{w} s ON p.d = s.d AND p.bucket = s.bucket
      GROUP BY p.tok
    ), r_{w} AS (
      SELECT {w} AS width,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(e.exact) AS BIGINT) AS total_mass,
             CAST(max(q.est - e.exact) AS BIGINT) AS max_overcount,
             CAST(sum(q.est - e.exact) * 10000 // count(*) AS BIGINT)
               AS mean_overcount_e4,
             CAST(2718 * sum(e.exact) // (1000 * {w}) AS BIGINT)
               AS eps_bound
      FROM exact e JOIN est_{w} q ON e.tok = q.tok
    )""")
    selects = " UNION ALL ".join(
        f"SELECT * FROM r_{w}" for w in _CMS_SWEEP_WIDTHS
    )
    return (
        """
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), exact AS (
      SELECT tok, count(*) AS exact FROM tok GROUP BY tok
    ),"""
        + ",".join(per_width)
        + f" SELECT * FROM ({selects}) ORDER BY width"
    )


@query("q_cms_width_sweep", oracle=_cms_sweep_oracle())
def q_cms_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sizing audit: the SAME vocabulary counted through
    sketches of width 64 / 256 / 1024 (depth 4), probing EVERY item
    and reporting measured max / mean overcount next to the
    theoretical epsilon*N = e*N/width bound — the table an engineer
    reads to size a sketch before deploying it against a 100 TB
    stream (quadrupling width should roughly quarter the mean
    overcount; the audit shows whether the corpus' skew makes the
    bound loose or tight). ONE corpus pass builds the exact count
    table (pinned); each width's sketch build and full-vocabulary
    probe are vocab-sized explodes over that table — sweeping more
    widths costs nothing corpus-side. All error statistics are exact
    BIGINTs (mean as e4 fixed-point integer division); CM guarantees
    est >= exact so every overcount is non-negative, pinned in
    tests."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact"))
        .localCheckpoint()
    )
    outs = []
    for w in _CMS_SWEEP_WIDTHS:
        sketch = countmin_from_counts(exact, "tok", "exact", width=w)
        est = countmin_estimate(
            exact.select("tok"), sketch, "tok", width=w
        )
        joined = exact.join(est, "tok")
        outs.append(
            joined.agg(
                F.lit(w).alias("width"),
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum("exact").cast("bigint").alias("total_mass"),
                F.max(F.col("est") - F.col("exact"))
                .cast("bigint")
                .alias("max_overcount"),
                F.expr(
                    "CAST(sum(est - exact) * 10000 DIV count(*) AS BIGINT)"
                ).alias("mean_overcount_e4"),
                F.expr(
                    f"CAST(2718 * sum(exact) DIV (1000 * {w}) AS BIGINT)"
                ).alias("eps_bound"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("width")


# ---------------------------------------------------------------------------
# Count-Sketch (signed) — r14
# ---------------------------------------------------------------------------

CS_DEPTH = 5
CS_WIDTH = 64


@query(
    "q_countsketch_signed",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY tok
    ), cells AS (
      SELECT exact AS n, unnest([struct_pack(d := 0, bucket := CAST(('0x' || substr(md5('200:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('300:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 1, bucket := CAST(('0x' || substr(md5('201:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('301:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 2, bucket := CAST(('0x' || substr(md5('202:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('302:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 3, bucket := CAST(('0x' || substr(md5('203:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('303:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 4, bucket := CAST(('0x' || substr(md5('204:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('304:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT)))], recursive := true) FROM exact
    ), sketch AS (
      SELECT d, bucket, CAST(sum(sgn * n) AS BIGINT) AS c
      FROM cells GROUP BY d, bucket
    ), heavy AS (
      SELECT tok, exact FROM exact
      WHERE exact >= 0.01 * (SELECT sum(exact) FROM exact)
    ), probes AS (
      SELECT tok, unnest([struct_pack(d := 0, bucket := CAST(('0x' || substr(md5('200:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('300:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 1, bucket := CAST(('0x' || substr(md5('201:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('301:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 2, bucket := CAST(('0x' || substr(md5('202:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('302:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 3, bucket := CAST(('0x' || substr(md5('203:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('303:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT))), struct_pack(d := 4, bucket := CAST(('0x' || substr(md5('204:' || tok), 1, 8))::UBIGINT % 64 AS BIGINT), sgn := (1 - 2 * CAST(('0x' || substr(md5('304:' || tok), 1, 8))::UBIGINT % 2 AS BIGINT)))], recursive := true) FROM heavy
    ), est AS (
      SELECT p.tok,
             CAST(quantile_disc(p.sgn * s.c, 0.5) AS BIGINT) AS est
      FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
      GROUP BY p.tok
    )
    SELECT h.tok, h.exact, e.est, (e.est - h.exact) AS err
    FROM heavy h JOIN est e ON h.tok = e.tok
    ORDER BY h.exact DESC, h.tok
    """,
)
def q_countsketch_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch frequency estimation (Charikar, Chen &
    Farach-Colton, ICALP 2002): each of d rows hashes an item to a
    bucket AND to a sign in {-1, +1}; a cell accumulates the SIGNED
    counts, and the estimate is the MEDIAN over rows of sgn(x) *
    C[d][h_d(x)]. The signs make collisions cancel in expectation, so
    unlike count-min (est >= exact always, q_countmin_sketch) the
    error here is two-sided and bounded by the l2 norm of the OTHER
    items' counts — the better sketch for heavy-tailed frequency
    distributions, and the building block of the Count-Sketch
    projection used in feature hashing. Both engines take the
    discrete median (3rd of 5 sorted values), so the comparison is
    exact BIGINT.

    Scale: identical discipline to q_countmin_sketch — ONE corpus
    aggregation feeds the sketch (vocab-sized signed explode, keyed
    groupBy with map-side combine), the heavy-hitter cut, and the
    probes; estimation joins the broadcast depth x width table."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact")
    )

    def db_structs(col):
        return F.array(*[
            F.struct(
                F.lit(d).alias("d"),
                _bucket(col, 200 + d, CS_WIDTH).alias("bucket"),
                (F.lit(1) - F.lit(2) * _bucket(col, 300 + d, 2))
                .cast("bigint")
                .alias("sgn"),
            )
            for d in range(CS_DEPTH)
        ])

    cells = exact.select(
        F.col("exact").alias("n"),
        F.explode(db_structs(F.col("tok"))).alias("db"),
    ).select("n", "db.d", "db.bucket", "db.sgn")
    sketch = cells.groupBy("d", "bucket").agg(
        F.sum(F.col("sgn") * F.col("n")).cast("bigint").alias("c")
    )
    total = exact.agg(F.sum("exact").alias("t"))
    heavy = (
        exact.join(total)
        .filter(F.col("exact") >= 0.01 * F.col("t"))
        .select("tok", "exact")
    )
    probes = heavy.select(
        "tok", F.explode(db_structs(F.col("tok"))).alias("db")
    ).select("tok", "db.d", "db.bucket", "db.sgn")
    est = (
        probes.join(sketch, ["d", "bucket"])
        .groupBy("tok")
        .agg(
            F.element_at(
                F.array_sort(F.collect_list(F.col("sgn") * F.col("c"))),
                (CS_DEPTH + 1) // 2,
            )
            .cast("bigint")
            .alias("est")
        )
    )
    return (
        heavy.join(est, "tok")
        .select(
            "tok",
            "exact",
            "est",
            (F.col("est") - F.col("exact")).cast("bigint").alias("err"),
        )
        .orderBy(F.col("exact").desc(), "tok")
    )


# --------------------------------------------------------------------------
# DDSketch relative-error quantile sketch (r15, Masson, Rim & Lee,
# VLDB 2019, "DDSketch: A Fast and Fully-Mergeable Quantile Sketch
# with Relative-Error Guarantees"). Values map to log-spaced buckets
# i = ceil(log_gamma(x)); a quantile is answered from cumulative
# bucket counts with estimate 2*gamma^i/(gamma+1), guaranteed within
# relative error alpha of the true value. Unlike rank-error sketches
# (percentile_approx's KLL/GK family), the error bound is RELATIVE —
# p99 latencies and long-tail prices stay alpha-accurate however
# skewed the distribution — and the sketch is trivially mergeable:
# bucket counts are a plain keyed agg, so map-side combine IS the
# merge operation.
# --------------------------------------------------------------------------
_DD_ALPHA = 0.01
_DD_GAMMA = "1.02020202020202"  # (1+alpha)/(1-alpha), identical literal
_DD_QS = (0.5, 0.95, 0.99)


@query(
    "q_ddsketch_quantiles",
    oracle=f"""
    WITH li AS (
      SELECT l_returnflag AS rflag, CAST(l_extendedprice AS DOUBLE) AS x
      FROM lineitem WHERE l_extendedprice > 0
    ), b AS (
      SELECT rflag, CAST(ceil(ln(x) / ln({_DD_GAMMA})) AS BIGINT) AS i,
             count(*) AS c
      FROM li GROUP BY rflag, i
    ), cum AS (
      SELECT rflag, i,
             sum(c) OVER (PARTITION BY rflag ORDER BY i) AS cum
      FROM b
    ), n AS (
      SELECT rflag, CAST(count(*) AS BIGINT) AS n,
             quantile_cont(x, 0.5) AS e50,
             quantile_cont(x, 0.95) AS e95,
             quantile_cont(x, 0.99) AS e99
      FROM li GROUP BY rflag
    ), t AS (
      SELECT rflag, n, q,
             CAST(floor(1 + q * (n - 1)) AS BIGINT) AS target,
             CASE q WHEN 0.5 THEN e50 WHEN 0.95 THEN e95 ELSE e99 END
                 AS exact
      FROM n, (SELECT unnest([0.5, 0.95, 0.99]::DOUBLE[]) AS q)
    ), sel AS (
      SELECT t.rflag, t.q, t.n, t.exact, min(c.i) AS bi
      FROM t JOIN cum c ON c.rflag = t.rflag AND c.cum >= t.target
      GROUP BY t.rflag, t.q, t.n, t.exact
    )
    SELECT rflag, q, n,
           round(2 * pow({_DD_GAMMA}, bi) / ({_DD_GAMMA} + 1), 4)
               AS ddsketch_est,
           round(exact, 4) AS exact_q,
           round(abs(2 * pow({_DD_GAMMA}, bi) / ({_DD_GAMMA} + 1) - exact)
                 / exact, 4) AS rel_err
    FROM sel
    ORDER BY rflag, q
    """,
)
def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch p50/p95/p99 of l_extendedprice per return flag, next
    to the exact interpolated quantile and the realized relative
    error (must be <= alpha={_DD_ALPHA} by the paper's guarantee —
    the exact column is the audit, computed here only at test scale).

    Scale: the sketch is ONE keyed agg (rflag, log-bucket) with
    map-side combine — partial aggregation IS sketch merging, so a
    1000-executor build costs one shuffle of #groups x #buckets rows,
    where #buckets is log_gamma(max/min) ~ a few hundred however many
    rows flow in. Quantile answering runs entirely on the bucket
    table: a per-group cumulative window (bucket-bounded rows), a
    3-row quantile dimension joined against per-group counts, and a
    min-bucket agg. The corpus is touched exactly twice (bucket pass
    + exact-quantile audit pass); drop the audit columns in
    production and it is touched once."""
    from pyspark.sql import Window

    g = float(_DD_GAMMA)
    li = (
        widen(load_table(spark, sf_dir, "lineitem"))
        .select(
            F.col("l_returnflag").alias("rflag"),
            F.col("l_extendedprice").cast("double").alias("x"),
        )
        .filter(F.col("x") > 0)
    )
    b = (
        li.select(
            "rflag",
            F.ceil(F.log("x") / F.log(F.lit(g))).cast("bigint").alias("i"),
        )
        .groupBy("rflag", "i")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = b.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("rflag").orderBy("i"))
    )
    n = li.groupBy("rflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(x, 0.5)").alias("e50"),
        F.expr("percentile(x, 0.95)").alias("e95"),
        F.expr("percentile(x, 0.99)").alias("e99"),
    )
    t = n.select(
        "rflag",
        "n",
        F.explode(F.array(*[F.lit(q) for q in _DD_QS])).alias("q"),
        "e50",
        "e95",
        "e99",
    ).select(
        "rflag",
        "n",
        "q",
        F.floor(1 + F.col("q") * (F.col("n") - 1)).cast("bigint").alias(
            "target"
        ),
        F.when(F.col("q") == 0.5, F.col("e50"))
        .when(F.col("q") == 0.95, F.col("e95"))
        .otherwise(F.col("e99"))
        .alias("exact"),
    )
    cum_a = cum.select(
        F.col("rflag").alias("c_rflag"), "i", "cum"
    )
    sel = (
        cum_a.join(
            F.broadcast(t),
            (cum_a.c_rflag == t.rflag) & (F.col("cum") >= F.col("target")),
        )
        .groupBy("rflag", "q", "n", "exact")
        .agg(F.min("i").alias("bi"))
    )
    est = 2 * F.pow(F.lit(g), F.col("bi")) / (g + 1)
    return sel.select(
        "rflag",
        "q",
        "n",
        rnd(est, 4).alias("ddsketch_est"),
        rnd(F.col("exact"), 4).alias("exact_q"),
        rnd(F.abs(est - F.col("exact")) / F.col("exact"), 4).alias(
            "rel_err"
        ),
    ).orderBy("rflag", "q")
