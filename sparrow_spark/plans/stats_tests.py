"""Distribution-level statistical tests and resampling estimators the
curation/analytics surface needs beyond point aggregates: rank-sum
tests, multiple-testing correction, bootstrap intervals, association
strength, autocorrelation, and changepoint scans.

Reference parity: the reference engine's aggregate surface stops at
sum/avg/min/max/count (wqc200/sparrow
src/datafusion_impl/physical_plan/*); everything here is the
beyond-reference analytics tier the training-data pipeline needs,
built from the same Spark primitives (keyed aggs + bounded windows)
so every test is one or two shuffles over pre-aggregated,
cardinality-bounded intermediates — never a row-level sort of the
raw fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df


@query(
    "q_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type = 'purchase'
    ), n AS (
      SELECT CAST(sum(g1) AS DOUBLE) AS n1,
             CAST(sum(1 - g1) AS DOUBLE) AS n2
      FROM s
    ), vals AS (
      SELECT value,
             CAST(sum(g1) AS DOUBLE) AS c1,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM s GROUP BY value
    ), ranked AS (
      SELECT c1, cnt,
             sum(cnt) OVER (ORDER BY value) - cnt + (cnt + 1) / 2
               AS avg_rank
      FROM vals
    ), agg AS (
      SELECT sum(avg_rank * c1) AS r1,
             sum(cnt * cnt * cnt - cnt) AS tie_sum
      FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(r1 - n1 * (n1 + 1) / 2, 2) AS u1,
           round((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
                 / sqrt(n1 * n2 / 12 * ((n1 + n2 + 1)
                        - tie_sum / ((n1 + n2) * (n1 + n2 - 1)))),
                 4) AS z,
           abs((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
               / sqrt(n1 * n2 / 12 * ((n1 + n2 + 1)
                      - tie_sum / ((n1 + n2) * (n1 + n2 - 1))))) > 1.96
             AS reject_null
    FROM agg, n
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the hash-split A/B
    arms on purchase values, with midranks for ties and the
    tie-corrected normal approximation — the nonparametric mean-shift
    companion to q_ab_test_analysis (Welch) and q_ks_test (shape).

    Scale: ranking runs over the DISTINCT-VALUE table (one keyed agg,
    then the two-phase range-partitioned running sum — no
    single-task Window.orderBy anywhere in the plan), never a full
    sort of the fact table; at true scale values pre-bin to a grid
    exactly as binned-KS does. The running quantities are integer
    counts held in doubles, so the two-phase summation is exact."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "value",
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("g1"),
        )
    )
    n = s.agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum(1 - F.col("g1")).cast("double").alias("n2"),
    )
    vals = s.groupBy("value").agg(
        F.sum("g1").cast("double").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    from sparrow_spark.operators.dedup import global_running_sums

    ranked = global_running_sums(vals, ["value"], ["cnt"]).select(
        "c1",
        "cnt",
        (F.col("cum_cnt") - F.col("cnt") + (F.col("cnt") + 1) / 2).alias(
            "avg_rank"
        ),
    )
    agg = ranked.agg(
        F.sum(F.col("avg_rank") * F.col("c1")).alias("r1"),
        F.sum(F.pow("cnt", 3) - F.col("cnt")).alias("tie_sum"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    ntot = F.col("n1") + F.col("n2")
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12
        * ((ntot + 1) - F.col("tie_sum") / (ntot * (ntot - 1)))
    )
    z = (u1 - F.col("n1") * F.col("n2") / 2) / sigma
    return agg.join(n).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        rnd(u1, 2).alias("u1"),
        rnd(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("reject_null"),
    )


@query(
    "q_bh_fdr",
    oracle="""
    WITH s AS (
      SELECT event_type, value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1
      FROM events
    ), n AS (
      SELECT event_type,
             CAST(sum(g1) AS DOUBLE) AS n1,
             CAST(sum(1 - g1) AS DOUBLE) AS n2
      FROM s GROUP BY event_type
    ), vals AS (
      SELECT event_type, value,
             CAST(sum(g1) AS DOUBLE) AS c1,
             CAST(sum(1 - g1) AS DOUBLE) AS c2
      FROM s GROUP BY event_type, value
    ), ecdf AS (
      SELECT event_type,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS cum1,
             sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS cum2
      FROM vals
    ), d AS (
      SELECT e.event_type, n.n1, n.n2,
             max(abs(e.cum1 / n.n1 - e.cum2 / n.n2)) AS ks_d
      FROM ecdf e JOIN n ON e.event_type = n.event_type
      GROUP BY e.event_type, n.n1, n.n2
    ), p AS (
      SELECT event_type, n1, n2, ks_d,
             least(1.0, 2 * exp(-2 * (n1 * n2 / (n1 + n2))
                                * ks_d * ks_d)) AS p_raw,
             CAST(count(*) OVER () AS DOUBLE) AS m,
             CAST(row_number() OVER (
               ORDER BY least(1.0, 2 * exp(-2 * (n1 * n2 / (n1 + n2))
                                           * ks_d * ks_d)), event_type)
               AS DOUBLE) AS rk
      FROM d
    )
    SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(ks_d, 6) AS ks_d, round(p_raw, 6) AS p_raw,
           round(min(least(1.0, p_raw * m / rk)) OVER (
             ORDER BY rk DESC), 6) AS p_bh,
           min(least(1.0, p_raw * m / rk)) OVER (ORDER BY rk DESC) < 0.05
             AS significant_05
    FROM p
    ORDER BY event_type
    """,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a family of per-event-type
    two-sample KS tests (asymptotic p = min(1, 2*exp(-2*m*D^2))) — the
    multiple-testing discipline any per-segment drift scan needs before
    alerting (q_ks_test run per segment WOULD false-positive at scale
    without it). Adjusted p_i = min_{j>=i}(p_j * m / j) via a running
    min from the worst rank.

    Scale: per-type ECDFs run over the distinct-value table via
    grouped global_running_sums (range-partitioned on (type, value) —
    a type's values span many partitions instead of one task per
    type); the BH pass itself is a window over ONE ROW PER TEST
    (segments, not rows) — trivially bounded by the 5-type enum."""
    s = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("g1"),
    )
    n = s.groupBy("event_type").agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum(1 - F.col("g1")).cast("double").alias("n2"),
    )
    vals = s.groupBy("event_type", "value").agg(
        F.sum("g1").cast("double").alias("c1"),
        F.sum(1 - F.col("g1")).cast("double").alias("c2"),
    )
    # Per-type ECDFs via GROUPED running sums (reset_cols): the
    # distinct-value table grows with the corpus while event_type is a
    # fixed 5-value enum, so a Window.partitionBy("event_type") would
    # push n/5 rows through one task per type at scale.
    from sparrow_spark.operators.dedup import global_running_sums

    ecdf = global_running_sums(
        vals, ["value"], ["c1", "c2"], reset_cols=["event_type"]
    ).select(
        "event_type",
        F.col("cum_c1").alias("cum1"),
        F.col("cum_c2").alias("cum2"),
    )
    d = (
        ecdf.join(n, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))
            ).alias("ks_d")
        )
    )
    p_raw = F.least(
        F.lit(1.0),
        2
        * F.exp(
            -2
            * (F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
            * F.col("ks_d")
            * F.col("ks_d")
        ),
    )
    p = d.select(
        "event_type",
        "n1",
        "n2",
        "ks_d",
        p_raw.alias("p_raw"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("double").alias("m"),
        F.row_number()
        .over(Window.orderBy(p_raw, "event_type"))
        .cast("double")
        .alias("rk"),
    )
    wtail = Window.orderBy(F.col("rk").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    p_bh = F.min(
        F.least(F.lit(1.0), F.col("p_raw") * F.col("m") / F.col("rk"))
    ).over(wtail)
    return p.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        rnd("ks_d", 6).alias("ks_d"),
        rnd("p_raw", 6).alias("p_raw"),
        rnd(p_bh, 6).alias("p_bh"),
        (p_bh < 0.05).alias("significant_05"),
    ).orderBy("event_type")


# Inverse-CDF thresholds of Poisson(1): P(X<=k) for k = 0..4; a
# uniform draw maps to the count via a CASE ladder. Identical
# literals on both engines.
_POIS = (0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431, 0.9963401532)


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT unnest(range(0, 20)) AS b
    ), drawn AS (
      SELECT e.event_type, r.b, e.value,
             CAST(((e.event_id * 1103515245 + r.b * 2654435761 + 12345)
                   % 2147483648) AS DOUBLE) / 2147483648.0 AS u
      FROM events e, reps r
    ), w AS (
      SELECT event_type, b, value,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS wt
      FROM drawn
    ), means AS (
      SELECT event_type, b,
             sum(wt * value) / nullif(sum(wt), 0) AS mean_b
      FROM w GROUP BY event_type, b
    ), point AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             avg(value) AS mean_value
      FROM events GROUP BY event_type
    )
    SELECT m.event_type, p.n, round(p.mean_value, 4) AS mean_value,
           round(quantile_cont(m.mean_b, 0.025), 4) AS ci_lo,
           round(quantile_cont(m.mean_b, 0.975), 4) AS ci_hi
    FROM means m JOIN point p ON m.event_type = p.event_type
    GROUP BY m.event_type, p.n, p.mean_value
    ORDER BY m.event_type
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI of the mean event value per event_type:
    each of 20 replicates reweights every row by a deterministic
    Poisson(1) draw (inverse-CDF over an arithmetic-LCG uniform, same
    literals both engines), replicate means come from one weighted agg,
    and the interval is the 2.5/97.5 percentile across replicates.

    Poisson bootstrap IS the at-scale form: resampling n-with-
    replacement needs global coordination, while Binomial(n,1/n) →
    Poisson(1) per-row weights need none — every replicate is a
    map-side weighted aggregation, all B replicates in ONE shuffle of
    (type, b) keys. The percentile runs over B rows per type."""
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(0, 20).select(F.col("id").alias("b"))
    u = (
        (
            F.col("event_id") * F.lit(1103515245)
            + F.col("b") * F.lit(2654435761)
            + F.lit(12345)
        )
        % F.lit(2147483648)
    ).cast("double") / F.lit(2147483648.0)
    wt = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .otherwise(5)
    )
    means = (
        ev.crossJoin(reps)
        .withColumn("u", u)
        .withColumn("wt", wt)
        .groupBy("event_type", "b")
        .agg(
            (
                F.sum(F.col("wt") * F.col("value"))
                / F.nullif(F.sum("wt"), F.lit(0))
            ).alias("mean_b")
        )
    )
    point = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("value").alias("mean_value"),
    )
    return (
        means.join(point, "event_type")
        .groupBy("event_type", "n", "mean_value")
        .agg(
            rnd(F.expr("percentile(mean_b, 0.025)"), 4).alias("ci_lo"),
            rnd(F.expr("percentile(mean_b, 0.975)"), 4).alias("ci_hi"),
        )
        .select(
            "event_type",
            "n",
            rnd("mean_value", 4).alias("mean_value"),
            "ci_lo",
            "ci_hi",
        )
        .orderBy("event_type")
    )


@query(
    "q_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT CAST(sum(o) AS DOUBLE) AS n,
             CAST(count(DISTINCT lang) AS DOUBLE) AS r,
             CAST(count(DISTINCT source) AS DOUBLE) AS c
      FROM cells
    ), margins AS (
      SELECT lang, sum(o) OVER (PARTITION BY lang) AS row_tot,
             sum(o) OVER (PARTITION BY source) AS col_tot, o
      FROM cells
    ), chi AS (
      SELECT sum((o - row_tot * col_tot / n) * (o - row_tot * col_tot / n)
                 / (row_tot * col_tot / n)) AS chi2
      FROM margins, tot
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_langs,
           CAST(c AS BIGINT) AS n_sources,
           round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (n * least(r - 1, c - 1))), 4) AS cramers_v
    FROM chi, tot
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between the lang and source
    columns of the corpus — the normalized-to-[0,1] companion of
    q_bias_mi: how far the lang mix of each source sits from
    independence, on a scale comparable across audits. (Observed cells
    only: the synthetic corpus has every lang x source pair populated;
    an absent pair contributes 0 - e to chi2 in the textbook form.)

    Scale: one (lang, source) keyed agg bounds everything downstream
    to the contingency-table cardinality; margins are windows over
    that tiny table."""
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").cast("double").alias("r"),
        F.countDistinct("source").cast("double").alias("c"),
    )
    margins = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_tot"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = (
        margins.join(tot)
        .agg(F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"))
    )
    return chi.join(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("bigint").alias("n_langs"),
        F.col("c").cast("bigint").alias("n_sources"),
        rnd("chi2", 4).alias("chi2"),
        rnd(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            4,
        ).alias("cramers_v"),
    )


@query(
    "q_acf_daily",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, x FROM daily
    ), stats AS (
      SELECT avg(x) AS xbar,
             sum((x - (SELECT avg(x) FROM idx))
                 * (x - (SELECT avg(x) FROM idx))) AS ss
      FROM idx
    ), lags AS (
      SELECT unnest(range(1, 8)) AS lag
    )
    SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((a.x - s.xbar) * (b.x - s.xbar)) / max(s.ss), 4)
             AS acf
    FROM lags l
    JOIN idx a ON true
    JOIN idx b ON b.i = a.i + l.lag
    CROSS JOIN stats s
    GROUP BY l.lag
    ORDER BY l.lag
    """,
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1-7 —
    the weekly-seasonality fingerprint (a lag-7 spike means day-of-week
    structure) that q_seasonal_anomaly assumes and this query verifies.
    Standard ACF normalization: lagged co-deviations over the full
    series sum of squares.

    Scale: the raw stream collapses to ONE ROW PER DAY in the first
    keyed agg, and the bounded daily series is then folded into a
    single date-sorted array so mean, sum-of-squares, and all seven
    lag products are array lambdas in ONE more stage — one scan of
    the fact table total, versus the naive formulation's four (mean
    branch, SS branch, and both sides of a lag self-join each re-scan
    the source unless the bounded series is materialized)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(F.expr("transform(s, e -> e.x)").alias("xs"))
    xbar = F.expr(
        "aggregate(xs, cast(0.0 as double), (a, v) -> a + v)"
    ) / F.size("xs")
    per_lag = (
        series.withColumn("xbar", xbar)
        .withColumn(
            "ss",
            F.expr(
                "aggregate(xs, cast(0.0 as double),"
                " (a, v) -> a + (v - xbar) * (v - xbar))"
            ),
        )
        .select(
            F.explode(
                F.expr(
                    """
                    transform(sequence(1, 7), k -> struct(
                      cast(k as bigint) as lag,
                      cast(size(xs) - k as bigint) as n_pairs,
                      aggregate(sequence(0, size(xs) - k - 1),
                                cast(0.0 as double),
                                (a, i) -> a + (xs[i] - xbar)
                                            * (xs[i + k] - xbar)) / ss
                        as acf_raw))
                    """
                )
            ).alias("r")
        )
    )
    return per_lag.select(
        "r.lag", "r.n_pairs", rnd("r.acf_raw", 4).alias("acf")
    ).orderBy("lag")


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, sum(value) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), stats AS (
      SELECT avg(x) AS xbar, stddev_samp(x) AS sd FROM daily
    ), cusum AS (
      SELECT d,
             sum((x - s.xbar) / s.sd) OVER (ORDER BY d) AS s_t
      FROM daily, stats s
    ), peak AS (
      SELECT max(abs(s_t)) AS peak FROM cusum
    )
    SELECT strftime(c.d, '%Y-%m-%d') AS day,
           round(c.s_t, 4) AS cusum,
           abs(c.s_t) = p.peak AS is_changepoint
    FROM cusum c, peak p
    ORDER BY day
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily purchase revenue: the running
    sum of standardized deviations peaks (in absolute value) at the
    most likely mean-shift point — the classic single-changepoint
    statistic behind revenue-regression and data-drift day-finding.

    Scale: the stream collapses to one row per day first, then the
    bounded daily series folds into a single date-sorted array —
    mean, sample sd, the running CUSUM (a scan-prefix fold, O(days^2)
    lambda steps on a ~10^2-row series), and the peak all evaluate in
    one stage, so the fact table is scanned ONCE (the window+stats
    formulation re-scans it for the stats branch and the peak
    branch)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").alias("x"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    n = F.size("s")
    total = F.expr("aggregate(s, cast(0.0 as double), (a, e) -> a + e.x)")
    rows = (
        series.withColumn("xbar", total / n)
        .withColumn(
            "sd",
            F.sqrt(
                F.expr(
                    "aggregate(s, cast(0.0 as double),"
                    " (a, e) -> a + (e.x - xbar) * (e.x - xbar))"
                )
                / (n - 1)
            ),
        )
        .withColumn(
            "cus",
            F.expr(
                """
                transform(sequence(1, size(s)), i -> struct(
                  date_format(s[i - 1].d, 'yyyy-MM-dd') as day,
                  aggregate(slice(s, 1, i), cast(0.0 as double),
                            (a, e) -> a + (e.x - xbar) / sd) as s_t))
                """
            ),
        )
        .withColumn(
            "peak", F.expr("array_max(transform(cus, c -> abs(c.s_t)))")
        )
        .select(F.explode("cus").alias("c"), "peak")
    )
    return rows.select(
        F.col("c.day").alias("day"),
        rnd("c.s_t", 4).alias("cusum"),
        (F.abs("c.s_t") == F.col("peak")).alias("is_changepoint"),
    ).orderBy("day")


@query(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, x FROM daily
    ), rec AS (
      SELECT 1 AS i,
             (SELECT x FROM idx WHERE i = 1) AS l,
             (SELECT x FROM idx WHERE i = 2)
               - (SELECT x FROM idx WHERE i = 1) AS b,
             CAST(0.0 AS DOUBLE) AS sse
      UNION ALL
      SELECT r.i + 1,
             0.5 * n.x + 0.5 * (r.l + r.b),
             0.3 * (0.5 * n.x + 0.5 * (r.l + r.b) - r.l) + 0.7 * r.b,
             r.sse + (n.x - (r.l + r.b)) * (n.x - (r.l + r.b))
      FROM rec r JOIN idx n ON n.i = r.i + 1
    )
    SELECT CAST((SELECT max(i) FROM idx) AS BIGINT) AS n_days,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + b, 4) AS forecast_next,
           round(sqrt(sse / ((SELECT max(i) FROM idx) - 1)), 4)
             AS rmse_1step
    FROM rec WHERE i = (SELECT max(i) FROM idx)
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing of daily
    purchase revenue — alpha=0.5 level, beta=0.3 trend, initialized
    l0=x0, b0=x1-x0 — with the one-step-ahead forecast and its RMSE.
    The recursive state is a fold over the date-sorted daily array
    (Spark-side: F.aggregate with a struct accumulator over the
    date-sorted array; the DuckDB oracle uses a recursive CTE because
    DuckDB 1.0's list_reduce mis-evaluates multi-field struct
    accumulators), extending the EWMA family (q_group_ewma) with a
    trend component.

    Scale: the fact table collapses to one row per day, the fold runs
    over the bounded array in one stage — a single scan total, the
    same shape as the rewritten ACF/CUSUM."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(F.expr("transform(s, e -> e.x)").alias("xs"))
    acc = F.expr(
        """
        aggregate(
          slice(xs, 2, size(xs) - 1),
          struct(xs[0] AS l,
                 xs[1] - xs[0] AS b,
                 cast(0.0 AS double) AS sse),
          (a, x) -> struct(
            0.5 * x + 0.5 * (a.l + a.b) AS l,
            0.3 * (0.5 * x + 0.5 * (a.l + a.b) - a.l) + 0.7 * a.b AS b,
            a.sse + (x - (a.l + a.b)) * (x - (a.l + a.b)) AS sse))
        """
    )
    return series.select(
        F.size("xs").cast("bigint").alias("n_days"), acc.alias("acc")
    ).select(
        "n_days",
        rnd("acc.l", 4).alias("level"),
        rnd("acc.b", 4).alias("trend"),
        rnd(F.col("acc.l") + F.col("acc.b"), 4).alias("forecast_next"),
        rnd(F.sqrt(F.col("acc.sse") / (F.col("n_days") - 1)), 4).alias(
            "rmse_1step"
        ),
    )


@query(
    "q_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS na,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS nb
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT CAST(na AS BIGINT) AS n_arm_a,
           CAST(nb AS BIGINT) AS n_arm_b,
           round((na - (na + nb) / 2) * (na - (na + nb) / 2)
                   / ((na + nb) / 2)
                 + (nb - (na + nb) / 2) * (nb - (na + nb) / 2)
                   / ((na + nb) / 2), 6) AS chi2,
           (na - (na + nb) / 2) * (na - (na + nb) / 2) / ((na + nb) / 2)
           + (nb - (na + nb) / 2) * (nb - (na + nb) / 2) / ((na + nb) / 2)
             > 3.841 AS srm_detected
    FROM arms
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the hash-split A/B assignment:
    chi-square of the observed arm sizes against the intended 50/50,
    flagged at the 3.841 critical value (alpha=0.05, df=1) — the
    experiment-hygiene gate run BEFORE reading any treatment effect
    (a biased assignment invalidates q_ab_test_analysis and
    q_mann_whitney no matter what they report).

    Scale: one distinct-user agg; the test is arithmetic on two
    numbers."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    arms = users.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    e = (F.col("na") + F.col("nb")) / 2
    chi2 = (F.col("na") - e) * (F.col("na") - e) / e + (
        F.col("nb") - e
    ) * (F.col("nb") - e) / e
    return arms.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        rnd(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@query(
    "q_ab_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                               THEN value END), 0) AS x_pre,
             coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                               THEN value END), 0) AS y_post
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), theta AS (
      SELECT covar_pop(x_pre, y_post) / var_pop(x_pre) AS th,
             avg(x_pre) AS x_bar
      FROM per_user
    ), adjusted AS (
      SELECT p.arm, p.y_post,
             p.y_post - t.th * (p.x_pre - t.x_bar) AS y_cuped
      FROM per_user p, theta t
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(y_post), 4) AS mean_raw,
           round(avg(y_cuped), 4) AS mean_cuped,
           round(var_samp(y_post), 4) AS var_raw,
           round(var_samp(y_cuped), 4) AS var_cuped,
           round(1 - var_samp(y_cuped) / var_samp(y_post), 4)
             AS variance_reduction
    FROM adjusted
    GROUP BY arm
    ORDER BY arm
    """,
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: each user's
    post-period purchase total is adjusted by theta * (pre-period
    total - mean), with theta = cov(pre, post)/var(pre) — the
    pre-experiment covariate soaks up between-user variance, shrinking
    the variance of the arm means without biasing them (the adjusted
    arm means shift together because theta and the centering are
    computed pooled). The standard trick that cuts experiment runtime
    ~30-50% on revenue metrics; reported per arm with the achieved
    variance reduction.

    Scale: one user-keyed agg; theta is one pooled aggregate over the
    user table, broadcast back; the adjustment is per-row
    arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)
        ).alias("x_pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cut, F.col("value"))), F.lit(0.0)
        ).alias("y_post"),
    ).withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    theta = per_user.agg(
        (F.covar_pop("x_pre", "y_post") / F.var_pop("x_pre")).alias("th"),
        F.avg("x_pre").alias("x_bar"),
    )
    adjusted = per_user.crossJoin(theta).select(
        "arm",
        "y_post",
        (
            F.col("y_post") - F.col("th") * (F.col("x_pre") - F.col("x_bar"))
        ).alias("y_cuped"),
    )
    return (
        adjusted.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            rnd(F.avg("y_post"), 4).alias("mean_raw"),
            rnd(F.avg("y_cuped"), 4).alias("mean_cuped"),
            rnd(F.var_samp("y_post"), 4).alias("var_raw"),
            rnd(F.var_samp("y_cuped"), 4).alias("var_cuped"),
            rnd(
                1 - F.var_samp("y_cuped") / F.var_samp("y_post"), 4
            ).alias("variance_reduction"),
        )
        .orderBy("arm")
    )


@query(
    "q_corr_matrix",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0)
               AS m_view,
             coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0)
               AS m_click,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN value END), 0) AS m_purchase,
             coalesce(sum(CASE WHEN event_type = 'signup' THEN value END), 0)
               AS m_signup,
             coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0)
               AS m_error
      FROM events GROUP BY user_id
    )
    SELECT p.metric_a, p.metric_b,
           round(CASE p.metric_a || '|' || p.metric_b
             WHEN 'click|error' THEN corr(m_click, m_error)
             WHEN 'click|purchase' THEN corr(m_click, m_purchase)
             WHEN 'click|signup' THEN corr(m_click, m_signup)
             WHEN 'click|view' THEN corr(m_click, m_view)
             WHEN 'error|purchase' THEN corr(m_error, m_purchase)
             WHEN 'error|signup' THEN corr(m_error, m_signup)
             WHEN 'error|view' THEN corr(m_error, m_view)
             WHEN 'purchase|signup' THEN corr(m_purchase, m_signup)
             WHEN 'purchase|view' THEN corr(m_purchase, m_view)
             WHEN 'signup|view' THEN corr(m_signup, m_view)
           END, 6) AS pearson_r
    FROM per_user,
         (SELECT * FROM (VALUES
            ('click','error'), ('click','purchase'), ('click','signup'),
            ('click','view'), ('error','purchase'), ('error','signup'),
            ('error','view'), ('purchase','signup'), ('purchase','view'),
            ('signup','view')) v(metric_a, metric_b)) p
    GROUP BY p.metric_a, p.metric_b
    ORDER BY p.metric_a, p.metric_b
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over per-user engagement
    metrics (value mass per event type, pivoted to five columns) —
    the metric-redundancy screen run before building a composite
    engagement score or a churn feature set (two metrics at r≈1 are
    one signal counted twice; q_churn_features consumes exactly this
    kind of screen).

    Scale: ONE user-keyed pivot agg, then all C(5,2) correlations
    compute in a single pass over the user table (corr is an
    algebraic aggregate — sums and cross-products combine
    map-side)."""
    ev = load_table(spark, sf_dir, "events")
    metrics = ["click", "error", "purchase", "signup", "view"]
    per_user = ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == m, F.col("value"))),
                F.lit(0.0),
            ).alias(f"m_{m}")
            for m in metrics
        ]
    )
    pairs = [
        (a, b) for i, a in enumerate(metrics) for b in metrics[i + 1:]
    ]
    row = per_user.agg(
        *[
            F.corr(f"m_{a}", f"m_{b}").alias(f"r_{a}_{b}")
            for a, b in pairs
        ]
    )
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("metric_a"),
                        F.lit(b).alias("metric_b"),
                        F.col(f"r_{a}_{b}").alias("r"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("p")
    )
    return stacked.select(
        "p.metric_a", "p.metric_b", rnd("p.r", 6).alias("pearson_r")
    ).orderBy("metric_a", "metric_b")


@query(
    "q_logreg_gradient_step",
    oracle="""
    WITH feats AS (
      SELECT CAST(lang = 'en' AS INTEGER) AS y,
             1.0 AS x0,
             n_chars / 300.0 AS x1,
             len(string_split(text, ' ')) / 60.0 AS x2,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3
      FROM documents
    ), scored AS (
      SELECT y, x0, x1, x2, x3,
             1.0 / (1.0 + exp(-(0.1 * x0 - 0.2 * x1 + 0.3 * x2
                                - 0.1 * x3))) AS p
      FROM feats
    ), grads AS (
      SELECT round(avg((p - y) * x0), 6) AS g0,
             round(avg((p - y) * x1), 6) AS g1,
             round(avg((p - y) * x2), 6) AS g2,
             round(avg((p - y) * x3), 6) AS g3,
             round(-avg(y * ln(p) + (1 - y) * ln(1 - p)), 6) AS loss
      FROM scored
    )
    SELECT f.feature,
           CASE f.feature WHEN 'bias' THEN g0 WHEN 'len_chars' THEN g1
                          WHEN 'len_tokens' THEN g2 ELSE g3 END
             AS gradient,
           loss AS mean_loss
    FROM grads,
         (SELECT unnest(['bias', 'len_chars', 'len_tokens', 'ttr'])
            AS feature) f
    ORDER BY f.feature
    """,
)
def q_logreg_gradient_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-batch gradient step of logistic regression (predicting
    lang=='en' from length/token/type-token features at a fixed
    weight vector): per-feature gradient mean((p - y) * x_j) and the
    log loss — the canonical DATA-PARALLEL training pattern (each
    partition contributes partial gradient sums; the driver applies
    the update), which is exactly how distributed SGD/L-BFGS outer
    loops run on Spark. Fixed weights keep both engines bit-aligned;
    iterating is the driver loop q_kmeans_iterate already
    demonstrates.

    Scale: features and the sigmoid are map-side arithmetic; the
    gradient is ONE aggregation (algebraic means) — no shuffle of
    anything but partial sums."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feats = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / 300.0).alias("x1"),
        (F.size(toks) / 60.0).alias("x2"),
        (
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double")
        ).alias("x3"),
    )
    z = 0.1 * F.col("x0") - 0.2 * F.col("x1") + 0.3 * F.col("x2") - 0.1 * F.col("x3")
    scored = feats.withColumn("p", 1.0 / (1.0 + F.exp(-z)))
    grads = scored.agg(
        rnd(F.avg((F.col("p") - F.col("y")) * F.col("x0")), 6).alias("g0"),
        rnd(F.avg((F.col("p") - F.col("y")) * F.col("x1")), 6).alias("g1"),
        rnd(F.avg((F.col("p") - F.col("y")) * F.col("x2")), 6).alias("g2"),
        rnd(F.avg((F.col("p") - F.col("y")) * F.col("x3")), 6).alias("g3"),
        rnd(
            -F.avg(
                F.col("y") * F.log("p")
                + (1 - F.col("y")) * F.log(1 - F.col("p"))
            ),
            6,
        ).alias("loss"),
    )
    names = [("bias", "g0"), ("len_chars", "g1"), ("len_tokens", "g2"), ("ttr", "g3")]
    return (
        grads.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("feature"),
                            F.col(g).alias("gradient"),
                            F.col("loss").alias("mean_loss"),
                        )
                        for n, g in names
                    ]
                )
            ).alias("r")
        )
        .select("r.feature", "r.gradient", "r.mean_loss")
        .orderBy("feature")
    )


@query(
    "q_kfold_balance",
    oracle="""
    WITH folds AS (
      SELECT doc_id % 5 AS fold, lang, n_chars FROM documents
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(avg(CAST(lang = 'en' AS INTEGER)), 4) AS en_fraction,
           round(avg(n_chars), 2) AS avg_chars
    FROM folds
    GROUP BY fold
    ORDER BY fold
    """,
)
def q_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with the
    balance audit evaluators need before trusting fold metrics: per
    fold, the size, label coverage, positive-class fraction, and a
    covariate mean — a fold whose en_fraction drifts from the others
    biases every score computed on it. Keyed on doc_id so assignment
    is stable under repartitioning (the same leakage-safety argument
    as q_train_test_split; group-aware folds would key on source as
    q_grouped_split does).

    Scale: map-side fold arithmetic + one 5-key agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy((F.col("doc_id") % 5).cast("bigint").alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            rnd(F.avg((F.col("lang") == "en").cast("int")), 4).alias(
                "en_fraction"
            ),
            rnd(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("fold")
    )


@query(
    "q_value_at_risk",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, sum(value) AS rev
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), deltas AS (
      SELECT rev - lag(rev) OVER (ORDER BY d) AS chg FROM daily
    ), clean AS (
      SELECT chg FROM deltas WHERE chg IS NOT NULL
    ), var AS (
      SELECT quantile_cont(chg, 0.05) AS var_95 FROM clean
    )
    SELECT CAST((SELECT count(*) FROM clean) AS BIGINT) AS n_days,
           round(v.var_95, 4) AS var_95,
           round((SELECT avg(chg) FROM clean WHERE chg <= v.var_95), 4)
             AS cvar_95,
           round((SELECT avg(chg) FROM clean), 4) AS mean_change
    FROM var v
    """,
)
def q_value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and expected shortfall on day-over-day revenue
    changes: VaR95 is the 5th percentile of daily deltas (the loss a
    normal bad day won't exceed) and CVaR95 is the mean of the tail
    BEYOND it — the coherent risk measure regulators prefer because
    it sees how bad the bad tail actually is. The risk-metric family
    the anomaly scans (CUSUM, MAD) feed into when losses need a
    number, not a flag.

    Scale: daily rollup first; deltas via one lag window over the
    bounded series; the tail mean re-filters the bounded delta
    table."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum("value").alias("rev")
    )
    deltas = daily.select(
        (F.col("rev") - F.lag("rev").over(Window.orderBy("d"))).alias("chg")
    ).filter(F.col("chg").isNotNull())
    var = deltas.agg(F.expr("percentile(chg, 0.05)").alias("var_95"))
    stats = deltas.crossJoin(var).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        rnd(F.first("var_95"), 4).alias("var_95"),
        rnd(
            F.avg(F.when(F.col("chg") <= F.col("var_95"), F.col("chg"))), 4
        ).alias("cvar_95"),
        rnd(F.avg("chg"), 4).alias("mean_change"),
    )
    return stats.select("n_days", "var_95", "cvar_95", "mean_change")


@query(
    "q_forecast_baselines",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, sum(value) AS rev
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), lagged AS (
      SELECT rev,
             lag(rev, 1) OVER (ORDER BY d) AS naive_pred,
             lag(rev, 7) OVER (ORDER BY d) AS snaive_pred
      FROM daily
    )
    SELECT 'naive_last_day' AS model,
           CAST(count(naive_pred) AS BIGINT) AS n_forecasts,
           round(avg(abs(rev - naive_pred)), 4) AS mae,
           round(100 * avg(abs(rev - naive_pred) / rev), 4) AS mape_pct
    FROM lagged
    UNION ALL
    SELECT 'seasonal_naive_7d',
           CAST(count(snaive_pred) AS BIGINT),
           round(avg(abs(rev - snaive_pred)), 4),
           round(100 * avg(abs(rev - snaive_pred) / rev), 4)
    FROM lagged
    ORDER BY model
    """,
)
def q_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation: MAE and MAPE of the two baselines
    every forecasting effort must beat — naive (yesterday's value)
    and seasonal-naive (same weekday last week) — over the daily
    revenue series. The yardstick for q_holt_linear's one-step RMSE:
    a model that loses to seasonal-naive isn't a model.

    Scale: one daily rollup; both baselines are lag windows over the
    bounded series, evaluated in the same pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum("value").alias("rev")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("naive_pred"),
        F.lag("rev", 7).over(w).alias("snaive_pred"),
    )
    def row(name, pred):
        err = F.abs(F.col("rev") - F.col(pred))
        return lagged.agg(
            F.count(pred).cast("bigint").alias("n_forecasts"),
            rnd(F.avg(F.when(F.col(pred).isNotNull(), err)), 4).alias("mae"),
            rnd(
                100 * F.avg(
                    F.when(F.col(pred).isNotNull(), err / F.col("rev"))
                ),
                4,
            ).alias("mape_pct"),
        ).select(F.lit(name).alias("model"), "n_forecasts", "mae", "mape_pct")

    return (
        row("naive_last_day", "naive_pred")
        .unionByName(row("seasonal_naive_7d", "snaive_pred"))
        .orderBy("model")
    )


@query(
    "q_decision_stump",
    oracle="""
    WITH labeled AS (
      SELECT n_chars, CAST(lang = 'en' AS INTEGER) AS y FROM documents
    ), thresholds AS (
      SELECT unnest([100, 150, 200, 250, 300, 350, 400, 450, 500]) AS thr
    ), split_stats AS (
      SELECT t.thr,
             CAST(sum(CASE WHEN l.n_chars <= t.thr THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_l,
             CAST(sum(CASE WHEN l.n_chars <= t.thr THEN y ELSE 0 END)
                  AS DOUBLE) AS p_l,
             CAST(sum(CASE WHEN l.n_chars > t.thr THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_r,
             CAST(sum(CASE WHEN l.n_chars > t.thr THEN y ELSE 0 END)
                  AS DOUBLE) AS p_r,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(y) AS DOUBLE) AS p
      FROM thresholds t CROSS JOIN labeled l
      GROUP BY t.thr
    ), scored AS (
      SELECT thr,
             2 * (p / n) * (1 - p / n)
             - (n_l / n) * (2 * (p_l / nullif(n_l, 0))
                            * (1 - p_l / nullif(n_l, 0)))
             - (n_r / n) * (2 * (p_r / nullif(n_r, 0))
                            * (1 - p_r / nullif(n_r, 0))) AS gini_gain
      FROM split_stats
    )
    SELECT CAST(thr AS BIGINT) AS threshold,
           round(gini_gain, 6) AS gini_gain,
           gini_gain = (SELECT max(gini_gain) FROM scored) AS is_best
    FROM scored
    ORDER BY threshold
    """,
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search: the Gini-impurity gain of
    splitting documents on n_chars at each of nine candidate
    thresholds for predicting lang=='en', with the argmax flagged —
    the inner loop of every tree/GBM learner, expressed as ONE
    grouped aggregation over the threshold-grid cross join (each
    candidate's left/right class counts accumulate in the same
    pass; no per-threshold scan).

    Scale: the grid fan-out is |thresholds| per row, map-side; the
    agg shuffles |thresholds| keys. The production form evaluates
    all features x thresholds in one pass the same way (the
    histogram trick XGBoost/LightGBM use)."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    thr = local_df(
        spark,
        [(t,) for t in (100, 150, 200, 250, 300, 350, 400, 450, 500)],
        "thr bigint",
    )
    left = F.col("n_chars") <= F.col("thr")
    stats = (
        labeled.crossJoin(thr)
        .groupBy("thr")
        .agg(
            F.sum(F.when(left, 1).otherwise(0)).cast("double").alias("n_l"),
            F.sum(F.when(left, F.col("y")).otherwise(0))
            .cast("double")
            .alias("p_l"),
            F.sum(F.when(~left, 1).otherwise(0)).cast("double").alias("n_r"),
            F.sum(F.when(~left, F.col("y")).otherwise(0))
            .cast("double")
            .alias("p_r"),
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("y").cast("double").alias("p"),
        )
    )
    def gini(p, n):
        frac = p / F.nullif(n, F.lit(0.0))
        return 2 * frac * (1 - frac)

    gain = (
        gini(F.col("p"), F.col("n"))
        - (F.col("n_l") / F.col("n")) * gini(F.col("p_l"), F.col("n_l"))
        - (F.col("n_r") / F.col("n")) * gini(F.col("p_r"), F.col("n_r"))
    )
    scored = stats.select("thr", gain.alias("gini_gain"))
    best = scored.agg(F.max("gini_gain").alias("best"))
    return (
        scored.crossJoin(best)
        .select(
            F.col("thr").cast("bigint").alias("threshold"),
            rnd("gini_gain", 6).alias("gini_gain"),
            (F.col("gini_gain") == F.col("best")).alias("is_best"),
        )
        .orderBy("threshold")
    )


@query(
    "q_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(ts >= TIMESTAMP '2024-01-16' AS INTEGER) AS post,
             avg(value) AS mean_value,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id % 2, ts >= TIMESTAMP '2024-01-16'
    ), wide AS (
      SELECT
        max(CASE WHEN arm = 1 AND post = 1 THEN mean_value END) AS t_post,
        max(CASE WHEN arm = 1 AND post = 0 THEN mean_value END) AS t_pre,
        max(CASE WHEN arm = 0 AND post = 1 THEN mean_value END) AS c_post,
        max(CASE WHEN arm = 0 AND post = 0 THEN mean_value END) AS c_pre
      FROM cells
    )
    SELECT round(t_pre, 4) AS treat_pre, round(t_post, 4) AS treat_post,
           round(c_pre, 4) AS control_pre,
           round(c_post, 4) AS control_post,
           round((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate
    FROM wide
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the treatment effect estimated as
    (treated post - treated pre) minus (control post - control pre)
    over the hash-split arms and the mid-window cutover — the causal
    workhorse when randomization is imperfect or a launch hit
    everyone at a known date: the control arm's trend absorbs
    seasonality the naive pre/post diff would misattribute. Completes
    the experiment toolkit (SRM guard → Welch/Mann-Whitney readouts →
    CUPED variance reduction → DiD for staggered rollouts).

    Scale: ONE 4-cell aggregation; everything after is arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("arm"),
        (F.col("ts") >= cut).cast("int").alias("post"),
    ).agg(F.avg("value").alias("mean_value"))
    def cell(arm, post):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("post") == post),
                F.col("mean_value"),
            )
        )
    wide = cells.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
    )
    return wide.select(
        rnd("t_pre", 4).alias("treat_pre"),
        rnd("t_post", 4).alias("treat_post"),
        rnd("c_pre", 4).alias("control_pre"),
        rnd("c_post", 4).alias("control_post"),
        rnd(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            4,
        ).alias("did_estimate"),
    )


@query(
    "q_mix_shift",
    oracle="""
    WITH halves AS (
      SELECT event_type,
             CAST(ts >= TIMESTAMP '2024-01-16' AS INTEGER) AS cur,
             avg(value) AS m,
             CAST(count(*) AS DOUBLE) AS n
      FROM events
      GROUP BY event_type, ts >= TIMESTAMP '2024-01-16'
    ), tot AS (
      SELECT cur, sum(n) AS nt FROM halves GROUP BY cur
    ), wide AS (
      SELECT h.event_type,
             max(CASE WHEN h.cur = 0 THEN h.m END) AS m0,
             max(CASE WHEN h.cur = 1 THEN h.m END) AS m1,
             max(CASE WHEN h.cur = 0 THEN h.n / t.nt END) AS w0,
             max(CASE WHEN h.cur = 1 THEN h.n / t.nt END) AS w1
      FROM halves h JOIN tot t ON t.cur = h.cur
      GROUP BY h.event_type
    )
    SELECT round(sum(w0 * m0), 4) AS overall_prior,
           round(sum(w1 * m1), 4) AS overall_current,
           round(sum(w0 * (m1 - m0)), 4) AS within_effect,
           round(sum((w1 - w0) * m1), 4) AS mix_effect,
           round(sum(w1 * m1) - sum(w0 * m0)
                 - sum(w0 * (m1 - m0)) - sum((w1 - w0) * m1), 6)
             AS residual
    FROM wide
    """,
)
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition of the overall mean event value between
    the two half-months: the change splits EXACTLY into a
    within-segment effect (per-type mean moves, weighted at the old
    mix) and a mix effect (type-share moves, valued at new means) —
    the Oaxaca-style answer to 'did the metric move, or did the
    traffic mix move?' that a plain before/after diff conflates
    (a dashboard drop caused purely by more low-value event types is
    a mix story, not a product regression). The residual column
    proves the exact-sum identity, the same discipline as
    q_revenue_bridge.

    Scale: one (type, period) agg + per-period totals; everything
    after is arithmetic on |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    halves = ev.groupBy(
        "event_type", (F.col("ts") >= cut).cast("int").alias("cur")
    ).agg(
        F.avg("value").alias("m"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    tot = halves.groupBy("cur").agg(F.sum("n").alias("nt"))
    def pick(cur, col):
        return F.max(F.when(F.col("cur") == cur, F.col(col)))
    wide = (
        halves.join(tot, "cur")
        .withColumn("w", F.col("n") / F.col("nt"))
        .groupBy("event_type")
        .agg(
            pick(0, "m").alias("m0"),
            pick(1, "m").alias("m1"),
            pick(0, "w").alias("w0"),
            pick(1, "w").alias("w1"),
        )
    )
    prior = F.sum(F.col("w0") * F.col("m0"))
    cur_ = F.sum(F.col("w1") * F.col("m1"))
    within = F.sum(F.col("w0") * (F.col("m1") - F.col("m0")))
    mix = F.sum((F.col("w1") - F.col("w0")) * F.col("m1"))
    return wide.agg(
        rnd(prior, 4).alias("overall_prior"),
        rnd(cur_, 4).alias("overall_current"),
        rnd(within, 4).alias("within_effect"),
        rnd(mix, 4).alias("mix_effect"),
        rnd(cur_ - prior - within - mix, 6).alias("residual"),
    )


@query(
    "q_markov_entropy",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), pairs AS (
      SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), margins AS (
      SELECT cur, nxt, c,
             sum(c) OVER (PARTITION BY cur) AS c_cur,
             sum(c) OVER () AS n
      FROM pairs
    )
    SELECT round(-sum((c / n) * ln(c / c_cur)), 6)
             AS conditional_entropy_nats,
           round(-sum((c / n) * ln(c / c_cur))
                 / ln((SELECT CAST(count(DISTINCT nxt) AS DOUBLE)
                       FROM pairs)), 6) AS normalized,
           CAST((SELECT count(*) FROM pairs) AS BIGINT)
             AS n_observed_transitions
    FROM margins
    """,
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy of the user-journey Markov chain,
    H(next | current) = -sum p(a,b) ln p(b|a): how predictable the
    next event is given the current one (0 = deterministic flows,
    ln(types) = memoryless uniform) — the single-number summary of
    q_markov_transitions' matrix, and the justification (or not) for
    sequence-aware models over frequency baselines.

    Scale: one user-keyed lead window shared with the transition
    matrix; entropy terms live on the |types|^2 pair table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    margins = pairs.select(
        "c",
        F.sum("c").over(Window.partitionBy("cur")).alias("c_cur"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    k = pairs.agg(F.countDistinct("nxt").cast("double").alias("k"))
    npairs = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_observed_transitions")
    )
    h = -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("c_cur")))
    return (
        margins.agg(h.alias("h"))
        .crossJoin(k)
        .crossJoin(npairs)
        .select(
            rnd("h", 6).alias("conditional_entropy_nats"),
            rnd(F.col("h") / F.log("k"), 6).alias("normalized"),
            "n_observed_transitions",
        )
    )


@query(
    "q_importance_ess",
    oracle="""
    WITH shares AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS nt,
             (SELECT CAST(count(DISTINCT source) AS DOUBLE)
              FROM documents) AS k
      FROM documents GROUP BY source
    ), weights AS (
      SELECT d.source, (1.0 / s.k) / (s.n / s.nt) AS w
      FROM documents d JOIN shares s ON s.source = d.source
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(w) * sum(w) / sum(w * w), 2) AS ess,
           round(sum(w) * sum(w) / sum(w * w) / count(*), 4)
             AS ess_fraction,
           round(max(w), 4) AS max_weight
    FROM weights
    """,
)
def q_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the uniform-target importance weights
    (w = target share / actual share per source): ESS =
    (sum w)^2 / sum(w^2) — the weight-degeneracy audit every
    importance-sampling step (DSIR selection, mixture reweighting)
    needs BEFORE trusting weighted statistics: ess_fraction near 1
    means the reweighting is benign, near 0 means a few documents
    carry the estimate and resampling (q_data_mixture's keep/drop
    form) is required instead.

    Scale: shares are one source-keyed agg broadcast back; ESS is a
    single algebraic aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count(F.lit(1)).cast("double").alias("nt"),
        F.countDistinct("source").cast("double").alias("k"),
    )
    shares = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    weights = (
        docs.join(F.broadcast(shares), "source")
        .crossJoin(tot)
        .select(((1.0 / F.col("k")) / (F.col("n") / F.col("nt"))).alias("w"))
    )
    ess = F.sum("w") * F.sum("w") / F.sum(F.col("w") * F.col("w"))
    return weights.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        rnd(ess, 2).alias("ess"),
        rnd(ess / F.count(F.lit(1)), 4).alias("ess_fraction"),
        rnd(F.max("w"), 4).alias("max_weight"),
    )


@query(
    "q_control_chart",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS errs
      FROM events GROUP BY 1
    ), center AS (
      SELECT sum(errs) / sum(n) AS pbar FROM daily
    )
    SELECT strftime(d.d, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n_events,
           round(d.errs / d.n, 6) AS error_rate,
           round(c.pbar + 3 * sqrt(c.pbar * (1 - c.pbar) / d.n), 6)
             AS ucl,
           round(greatest(0, c.pbar
                 - 3 * sqrt(c.pbar * (1 - c.pbar) / d.n)), 6) AS lcl,
           d.errs / d.n > c.pbar
             + 3 * sqrt(c.pbar * (1 - c.pbar) / d.n)
           OR d.errs / d.n < greatest(0, c.pbar
             - 3 * sqrt(c.pbar * (1 - c.pbar) / d.n))
             AS out_of_control
    FROM daily d, center c
    ORDER BY day
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart for the daily error rate: each day's rate
    plotted against 3-sigma binomial control limits around the
    process center (pbar ± 3*sqrt(pbar(1-pbar)/n), limits widening on
    low-volume days exactly as SPC prescribes) with out-of-control
    flags — the statistical-process-control discipline that separates
    common-cause noise from special-cause incidents, completing the
    anomaly family (CUSUM finds the shift POINT; the p-chart judges
    each day against stable-process limits).

    Scale: one daily rollup, one 1-row center aggregate broadcast
    back; limits are per-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double")
        .alias("errs"),
    )
    center = daily.agg((F.sum("errs") / F.sum("n")).alias("pbar"))
    sigma = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    rate = F.col("errs") / F.col("n")
    ucl = F.col("pbar") + 3 * sigma
    lcl = F.greatest(F.lit(0.0), F.col("pbar") - 3 * sigma)
    return (
        daily.crossJoin(center)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            rnd(rate, 6).alias("error_rate"),
            rnd(ucl, 6).alias("ucl"),
            rnd(lcl, 6).alias("lcl"),
            ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (r9): the seasonal rung
# above q_holt_linear (level+trend) and q_group_ewma (level only).
# Weekly period m=7 on daily purchase revenue; alpha=0.5, beta=0.3,
# gamma=0.2. The recursive state is (level, trend, 7-slot seasonal
# ring, sse) — a struct-with-array fold Spark-side, a recursive CTE
# with a LIST column oracle-side (DuckDB 1.0 list_reduce mis-
# evaluates multi-field struct accumulators; recursive CTEs do not).
# --------------------------------------------------------------------------
_HW_M = 7


@query(
    "q_holt_winters",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, x FROM daily
    ), init AS (
      SELECT list_reduce((SELECT list(x ORDER BY i) FROM idx
                          WHERE i <= {_HW_M}),
                         (a, b) -> a + b) / {_HW_M}.0 AS l0,
             (list_reduce((SELECT list(x ORDER BY i) FROM idx
                           WHERE i > {_HW_M} AND i <= 2 * {_HW_M}),
                          (a, b) -> a + b) / {_HW_M}.0
              - list_reduce((SELECT list(x ORDER BY i) FROM idx
                             WHERE i <= {_HW_M}),
                            (a, b) -> a + b) / {_HW_M}.0)
               / {_HW_M} AS b0
    ), rec AS (
      SELECT {_HW_M} AS i, l0 AS l, b0 AS b,
             (SELECT list(x - (SELECT l0 FROM init)
                          ORDER BY i) FROM idx WHERE i <= {_HW_M}) AS s,
             CAST(0.0 AS DOUBLE) AS sse
      FROM init
      UNION ALL
      SELECT r.i + 1,
             0.5 * (n.x - r.s[1]) + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * (n.x - r.s[1]) + 0.5 * (r.l + r.b)) - r.l)
               + 0.7 * r.b,
             list_concat(
               r.s[2:{_HW_M}],
               [0.2 * (n.x - (0.5 * (n.x - r.s[1]) + 0.5 * (r.l + r.b)))
                + 0.8 * r.s[1]]
             ),
             r.sse + (n.x - (r.l + r.b + r.s[1]))
                   * (n.x - (r.l + r.b + r.s[1]))
      FROM rec r JOIN idx n ON n.i = r.i + 1
    ), last AS (
      SELECT * FROM rec WHERE i = (SELECT max(i) FROM idx)
    )
    SELECT CAST((SELECT max(i) FROM idx) AS BIGINT) AS n_days,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(s[1], 4) AS next_seasonal,
           round(l + b + s[1], 4) AS forecast_next,
           round(sqrt(sse / ((SELECT max(i) FROM idx) - {_HW_M})), 4)
             AS rmse_1step
    FROM last
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters on daily purchase revenue with weekly
    seasonality (m=7; alpha=0.5, beta=0.3, gamma=0.2): level/trend as
    in q_holt_linear plus a 7-slot seasonal ring updated per day,
    initialized l0 = mean(week 1), b0 = (mean(week 2) - mean(week 1))
    / 7, s_i = x_i - l0. Emits the final state, the one-step
    forecast l + b + s_next, and its in-sample RMSE.

    Scale: identical to the bounded-series family — the fact table
    collapses to one row per day (keyed agg with map-side combine),
    the fold runs over the date-sorted array in one stage; state is
    O(m), never row-count-sized. The fold order is pinned by the
    array sort, so the floats are bit-identical across partitionings
    and engines."""
    m = _HW_M
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    ).select(F.expr("transform(s, e -> e.x)").alias("xs"))
    acc = F.expr(
        f"""
        aggregate(
          slice(xs, {m + 1}, size(xs) - {m}),
          struct(
            aggregate(slice(xs, 1, {m}), cast(0.0 as double),
                      (a, x) -> a + x) / {m}.0 AS l,
            (aggregate(slice(xs, {m + 1}, {m}), cast(0.0 as double),
                       (a, x) -> a + x) / {m}.0
             - aggregate(slice(xs, 1, {m}), cast(0.0 as double),
                         (a, x) -> a + x) / {m}.0) / {m}.0 AS b,
            transform(slice(xs, 1, {m}),
                      x -> x - aggregate(slice(xs, 1, {m}),
                                         cast(0.0 as double),
                                         (a, x2) -> a + x2) / {m}.0) AS s,
            cast(0.0 AS double) AS sse),
          (a, x) -> struct(
            0.5 * (x - a.s[0]) + 0.5 * (a.l + a.b) AS l,
            0.3 * ((0.5 * (x - a.s[0]) + 0.5 * (a.l + a.b)) - a.l)
              + 0.7 * a.b AS b,
            concat(slice(a.s, 2, {m - 1}),
                   array(0.2 * (x - (0.5 * (x - a.s[0])
                                     + 0.5 * (a.l + a.b)))
                         + 0.8 * a.s[0])) AS s,
            a.sse + (x - (a.l + a.b + a.s[0]))
                  * (x - (a.l + a.b + a.s[0])) AS sse))
        """
    )
    return series.select(
        F.size("xs").cast("bigint").alias("n_days"), acc.alias("acc")
    ).select(
        "n_days",
        rnd("acc.l", 4).alias("level"),
        rnd("acc.b", 4).alias("trend"),
        rnd(F.element_at("acc.s", 1), 4).alias("next_seasonal"),
        rnd(
            F.col("acc.l") + F.col("acc.b") + F.element_at("acc.s", 1), 4
        ).alias("forecast_next"),
        rnd(
            F.sqrt(F.col("acc.sse") / (F.col("n_days") - m)), 4
        ).alias("rmse_1step"),
    )


# --------------------------------------------------------------------------
# Iterative extreme-studentized-deviate outlier sweep (r9). One-shot
# z-scoring (q_zscore_outliers) is masked by the outliers themselves
# inflating sigma; the ESD procedure (Rosner 1983) removes the most
# extreme point and RECOMPUTES mean/std each round, unmasking
# secondary outliers. Fixed 3 rounds and a fixed R > 3.0 flag
# threshold (the full test's per-round lambda_i needs a Student-t
# inverse CDF, out of scope for an engine-portable oracle; the
# iteration structure — the part that matters for masking — is
# exact).
# --------------------------------------------------------------------------
_ESD_ROUNDS = 3


def _esd_round_sql(r: int) -> str:
    prev = f"rem{r - 1}"
    return f"""
    , st{r} AS (
      SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM {prev}
    ), cand{r} AS (
      SELECT d, x, abs(x - st{r}.mu) / st{r}.sd AS r_stat
      FROM {prev}, st{r}
    ), top{r} AS (
      SELECT {r} AS iteration, d, x, r_stat FROM cand{r}
      ORDER BY r_stat DESC, d LIMIT 1
    ), rem{r} AS (
      SELECT p.d, p.x FROM {prev} p
      WHERE p.d NOT IN (SELECT d FROM top{r})
    )"""


@query(
    "q_esd_outliers",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), rem0 AS (SELECT d, x FROM daily)"""
    + "".join(_esd_round_sql(r) for r in range(1, _ESD_ROUNDS + 1))
    + f"""
    SELECT iteration, strftime(d, '%Y-%m-%d') AS day,
           round(x, 2) AS value, round(r_stat, 4) AS r_stat,
           r_stat > 3.0 AS flagged
    FROM ({" UNION ALL ".join(f"SELECT * FROM top{r}" for r in range(1, _ESD_ROUNDS + 1))})
    ORDER BY iteration
    """,
)
def q_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-round ESD outlier sweep on daily purchase revenue: each
    round studentizes against the mean/std of the REMAINING series,
    extracts the single most extreme day (ties -> earliest), removes
    it, and recomputes — the unmasking loop that one-shot z-scores
    lack. Emits the extraction sequence with R statistics and the
    fixed R > 3 flag.

    Scale: the fact table collapses to one row per day first; each
    round is a 2-value aggregate + a top-1 TakeOrderedAndProject over
    the day-bounded series — never a corpus pass per round."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
        .localCheckpoint(eager=True)
    )
    tops = []

    def extract(remaining: DataFrame, i: int) -> DataFrame:
        st = remaining.agg(
            F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
        )
        cand = remaining.crossJoin(st).withColumn(
            "r_stat", F.abs(F.col("x") - F.col("mu")) / F.col("sd")
        )
        top = (
            cand.orderBy(F.col("r_stat").desc(), "d")
            .limit(1)
            .select(F.lit(i).alias("iteration"), "d", "x", "r_stat")
            .localCheckpoint(eager=True)
        )
        tops.append(top)
        return remaining.join(top.select("d"), "d", "left_anti")

    iterate(daily, extract, _ESD_ROUNDS)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.select(
        "iteration",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        rnd("x", 2).alias("value"),
        rnd("r_stat", 4).alias("r_stat"),
        (F.col("r_stat") > 3.0).alias("flagged"),
    ).orderBy("iteration")


# --------------------------------------------------------------------------
# Cohen's kappa inter-rater agreement (r9). q_weak_supervision fuses
# labeling functions by majority vote but never answers "do the
# labelers agree beyond chance?" — the agreement audit that decides
# whether adding a labeling function adds signal. Two deterministic
# binary raters over documents (a char-length rule and a word-count
# rule), kappa = (po - pe) / (1 - pe) per language, all confusion
# counts exact BIGINTs with a single double division at the end.
# --------------------------------------------------------------------------
@query(
    "q_cohens_kappa",
    oracle="""
    WITH lab AS (
      SELECT lang,
             CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS r1,
             CASE WHEN len(string_split(lower(text), ' ')) >= 90
                  THEN 1 ELSE 0 END AS r2
      FROM documents
    ), cm AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r1 * r2) AS BIGINT) AS n11,
             CAST(sum(r1 * (1 - r2)) AS BIGINT) AS n10,
             CAST(sum((1 - r1) * r2) AS BIGINT) AS n01,
             CAST(sum((1 - r1) * (1 - r2)) AS BIGINT) AS n00
      FROM lab GROUP BY lang
    ), k AS (
      SELECT lang, n, n11, n10, n01, n00,
             CAST(n11 + n00 AS DOUBLE) / n AS po,
             (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
               + (CAST(n00 + n01 AS DOUBLE) / n)
                 * (CAST(n00 + n10 AS DOUBLE) / n) AS pe
      FROM cm
    )
    SELECT lang, n, n11, n10, n01, n00,
           round(po, 4) AS po, round(pe, 4) AS pe,
           round((po - pe) / (1 - pe), 4) AS kappa
    FROM k ORDER BY lang
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic quality raters (chars
    >= 500 vs whitespace words >= 90) per language: the chance-
    corrected agreement that tells a weak-supervision pipeline
    whether its labeling functions are redundant (kappa ~ 1),
    complementary (moderate), or noise (kappa ~ 0).

    Scale: one corpus pass -> per-language confusion counts via a
    keyed agg with map-side combine (state is 4 BIGINTs per
    language); po/pe/kappa are computed from the exact integer
    counts with one double division each, so the floats are
    engine-identical by construction."""
    docs = load_table(spark, sf_dir, "documents")
    r1 = F.when(F.col("n_chars") >= 500, 1).otherwise(0)
    r2 = F.when(
        F.size(F.split(F.lower(F.col("text")), " ")) >= 90, 1
    ).otherwise(0)
    cm = (
        docs.select("lang", r1.alias("r1"), r2.alias("r2"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("r1") * F.col("r2")).cast("bigint").alias("n11"),
            F.sum(F.col("r1") * (1 - F.col("r2"))).cast("bigint").alias("n10"),
            F.sum((1 - F.col("r1")) * F.col("r2")).cast("bigint").alias("n01"),
            F.sum((1 - F.col("r1")) * (1 - F.col("r2")))
            .cast("bigint")
            .alias("n00"),
        )
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") / F.col("n")
    ) * ((F.col("n11") + F.col("n01")).cast("double") / F.col("n")) + (
        (F.col("n00") + F.col("n01")).cast("double") / F.col("n")
    ) * ((F.col("n00") + F.col("n10")).cast("double") / F.col("n"))
    return (
        cm.withColumn("po_", po)
        .withColumn("pe_", pe)
        .select(
            "lang",
            "n",
            "n11",
            "n10",
            "n01",
            "n00",
            rnd("po_", 4).alias("po"),
            rnd("pe_", 4).alias("pe"),
            rnd(
                (F.col("po_") - F.col("pe_")) / (1 - F.col("pe_")), 4
            ).alias("kappa"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Theil-Sen robust slope + Mann-Kendall trend test (r9). OLS trend
# (q_regression_stats) and the seasonal decompositions assume
# Gaussian residuals; one promo-day spike drags the fitted slope.
# Theil-Sen (median of pairwise slopes, 29% breakdown point) and the
# Mann-Kendall S statistic (pure sign-based, distribution-free) are
# the standard robust pair. The day-collapsed series is bounded, so
# the O(n^2) pair join is a few thousand rows — never fact-table-
# sized — and the median is quantile_cont-compatible on both engines.
# --------------------------------------------------------------------------
@query(
    "q_theil_sen_mk",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), idx AS (
      SELECT CAST(datediff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
               AS t, x
      FROM daily
    ), pr AS (
      SELECT (b.x - a.x) / (b.t - a.t) AS slope,
             CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
      FROM idx a JOIN idx b ON a.t < b.t
    ), sl AS (
      SELECT quantile_cont(slope, 0.5) AS slope,
             CAST(sum(sgn) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pr
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx
    ), ic AS (
      SELECT quantile_cont(i.x - s.slope * i.t, 0.5) AS icept
      FROM idx i CROSS JOIN sl s
    )
    SELECT nn.n AS n_days, sl.n_pairs,
           round(sl.slope, 4) AS ts_slope,
           round(ic.icept, 2) AS ts_intercept,
           sl.s AS mk_s,
           round((sl.s - CASE WHEN sl.s > 0 THEN 1
                              WHEN sl.s < 0 THEN -1 ELSE 0 END)
                 / sqrt(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0),
                 4) AS mk_z,
           abs((sl.s - CASE WHEN sl.s > 0 THEN 1
                            WHEN sl.s < 0 THEN -1 ELSE 0 END)
               / sqrt(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0)) > 1.96
             AS significant
    FROM sl, nn, ic
    """,
)
def q_theil_sen_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen median-of-pairwise-slopes trend estimate plus the
    Mann-Kendall sign test on daily purchase revenue: slope/intercept
    robust to outlier days, S = sum of pairwise signs with the
    continuity-corrected normal z (no-ties variance — revenue sums
    are continuous doubles).

    Scale: the fact table collapses to one row per day before the
    pair join, so the quadratic stage is day-count-bounded (~90 days
    -> ~4k pairs) regardless of fact-table size; the median runs
    through the same interpolating percentile on both engines."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
    )
    mind = daily.agg(F.min("d").alias("md"))
    idx = daily.crossJoin(mind).select(
        F.datediff("d", "md").cast("bigint").alias("t"), "x"
    )
    a, b = idx.alias("a"), idx.alias("b")
    pr = a.join(b, F.col("a.t") < F.col("b.t")).select(
        (
            (F.col("b.x") - F.col("a.x")) / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .cast("bigint")
        .alias("sgn"),
    )
    sl = pr.agg(
        F.expr("percentile(slope, 0.5)").alias("slope"),
        F.sum("sgn").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ic = (
        idx.crossJoin(sl.select("slope"))
        .select((F.col("x") - F.col("slope") * F.col("t")).alias("resid"))
        .agg(F.expr("percentile(resid, 0.5)").alias("icept"))
    )
    corr = F.col("s") - F.when(F.col("s") > 0, 1).when(
        F.col("s") < 0, -1
    ).otherwise(0)
    denom = F.sqrt(
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
    )
    return (
        sl.crossJoin(nn)
        .crossJoin(ic)
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            rnd("slope", 4).alias("ts_slope"),
            rnd("icept", 2).alias("ts_intercept"),
            F.col("s").alias("mk_s"),
            rnd(corr / denom, 4).alias("mk_z"),
            (F.abs(corr / denom) > 1.96).alias("significant"),
        )
    )


# --------------------------------------------------------------------------
# Page-Hinkley drift detector (r9). CUSUM (q_cusum_changepoint) scans
# RETROSPECTIVELY against the global mean; Page-Hinkley is the
# SEQUENTIAL variant a monitoring job actually runs — the cumulative
# deviation from the RUNNING mean minus a tolerance delta, alarmed
# when it exceeds its running minimum by lambda. The fold is strictly
# ordered, so Spark folds the date-sorted array and DuckDB replays
# the identical recursion in a recursive CTE (multi-field state, the
# list_reduce corruption territory) — bit-identical sequential floats.
# --------------------------------------------------------------------------
_PH_DELTA = 1.0
_PH_LAMBDA = 30.0


@query(
    "q_page_hinkley",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, avg(value) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), ord AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, x,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily
    ), ph(rn, n, s, cum, mn, alarm_day) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(NULL AS VARCHAR)
      UNION ALL
      SELECT o.rn, p.n + 1, p.s + o.x,
             p.cum + (o.x - (p.s + o.x) / (p.n + 1) - {_PH_DELTA}),
             least(p.mn,
                   p.cum + (o.x - (p.s + o.x) / (p.n + 1) - {_PH_DELTA})),
             coalesce(p.alarm_day,
                      CASE WHEN p.cum
                                + (o.x - (p.s + o.x) / (p.n + 1)
                                   - {_PH_DELTA})
                                - least(p.mn,
                                        p.cum + (o.x - (p.s + o.x)
                                                 / (p.n + 1)
                                                 - {_PH_DELTA}))
                                > {_PH_LAMBDA}
                           THEN o.day END)
      FROM ph p JOIN ord o ON o.rn = p.rn + 1
    )
    SELECT n AS n_days,
           round(cum, 4) AS ph_cum,
           round(mn, 4) AS ph_min,
           round(cum - mn, 4) AS ph_stat,
           cum - mn > {_PH_LAMBDA} AS alarming_now,
           alarm_day AS first_alarm_day
    FROM ph WHERE rn = (SELECT max(rn) FROM ph)
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift test on the daily mean purchase
    value (delta=1, lambda=30): cumulative deviation from the running
    mean, alarmed when it rises more than lambda above its running
    minimum. Emits the final cumulative/minimum/test statistic and
    the first alarm day (null if never alarmed).

    Scale: the fact table collapses to one row per day (keyed agg
    with map-side combine), the strictly-sequential fold runs over
    the date-sorted array in one stage with O(1) state — the same
    bounded-series discipline as q_holt_linear; the DuckDB oracle
    replays the recursion day by day, so every intermediate float is
    produced in the identical order on both engines."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.avg("value").alias("x"))
    )
    series = daily.agg(
        F.array_sort(
            F.collect_list(
                F.struct("d", F.date_format("d", "yyyy-MM-dd").alias("day"), "x")
            )
        ).alias("s")
    )
    st = F.aggregate(
        "s",
        F.struct(
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0.0).alias("s"),
            F.lit(0.0).alias("cum"),
            F.lit(0.0).alias("mn"),
            F.lit(None).cast("string").alias("alarm_day"),
        ),
        lambda a, e: F.struct(
            (a["n"] + 1).alias("n"),
            (a["s"] + e["x"]).alias("s"),
            (
                a["cum"]
                + (e["x"] - (a["s"] + e["x"]) / (a["n"] + 1) - _PH_DELTA)
            ).alias("cum"),
            F.least(
                a["mn"],
                a["cum"]
                + (e["x"] - (a["s"] + e["x"]) / (a["n"] + 1) - _PH_DELTA),
            ).alias("mn"),
            F.coalesce(
                a["alarm_day"],
                F.when(
                    a["cum"]
                    + (e["x"] - (a["s"] + e["x"]) / (a["n"] + 1) - _PH_DELTA)
                    - F.least(
                        a["mn"],
                        a["cum"]
                        + (
                            e["x"]
                            - (a["s"] + e["x"]) / (a["n"] + 1)
                            - _PH_DELTA
                        ),
                    )
                    > _PH_LAMBDA,
                    e["day"],
                ),
            ).alias("alarm_day"),
        ),
    )
    return series.select(st.alias("st")).select(
        F.col("st.n").alias("n_days"),
        rnd("st.cum", 4).alias("ph_cum"),
        rnd("st.mn", 4).alias("ph_min"),
        rnd(F.col("st.cum") - F.col("st.mn"), 4).alias("ph_stat"),
        (F.col("st.cum") - F.col("st.mn") > _PH_LAMBDA).alias("alarming_now"),
        F.col("st.alarm_day").alias("first_alarm_day"),
    )


# --------------------------------------------------------------------------
# Simpson's-paradox audit (r9). Any per-segment dashboard invites the
# aggregation fallacy: the regression slope in every segment can
# disagree in sign with the pooled slope. This audit computes the
# pooled OLS slope of extended price on discount and the same slope
# within each return-flag segment, flagging sign reversals — the
# check an experimentation platform runs before trusting a pooled
# effect. Uses covar_pop/var_pop (the q_corr_matrix parity
# precedent).
# --------------------------------------------------------------------------
@query(
    "q_simpson_paradox",
    oracle="""
    WITH seg AS (
      SELECT l_returnflag AS segment,
             CAST(count(*) AS BIGINT) AS n,
             covar_pop(l_discount, l_extendedprice)
               / var_pop(l_discount) AS slope,
             corr(l_discount, l_extendedprice) AS r
      FROM lineitem GROUP BY 1
    ), pooled AS (
      SELECT covar_pop(l_discount, l_extendedprice)
               / var_pop(l_discount) AS slope_all
      FROM lineitem
    )
    SELECT s.segment, s.n,
           round(s.slope, 4) AS slope_segment,
           round(s.r, 6) AS corr_segment,
           round(p.slope_all, 4) AS slope_pooled,
           (s.slope > 0) <> (p.slope_all > 0) AS sign_reversed
    FROM seg s CROSS JOIN pooled p
    ORDER BY segment
    """,
)
def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment vs pooled OLS slope of extended price on discount
    (segments = return flag), with the sign-reversal flag that
    detects Simpson's paradox before anyone acts on the pooled
    number.

    Scale: two keyed aggregations over the fact table (one per
    segment, one pooled scalar), each with map-side partial moments
    — no row ever leaves its partition before the combine; the
    segment table is broadcast-joined to the pooled scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    seg = li.groupBy(F.col("l_returnflag").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.covar_pop("l_discount", "l_extendedprice")
            / F.var_pop("l_discount")
        ).alias("slope"),
        F.corr("l_discount", "l_extendedprice").alias("r"),
    )
    pooled = li.agg(
        (
            F.covar_pop("l_discount", "l_extendedprice")
            / F.var_pop("l_discount")
        ).alias("slope_all")
    )
    return (
        seg.crossJoin(pooled)
        .select(
            "segment",
            "n",
            rnd("slope", 4).alias("slope_segment"),
            rnd("r", 6).alias("corr_segment"),
            rnd("slope_all", 4).alias("slope_pooled"),
            (
                (F.col("slope") > 0) != (F.col("slope_all") > 0)
            ).alias("sign_reversed"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Gaussian-mixture E-step histogram (r9). One EM E-step of a fixed
# two-component 1-D mixture over order totals: each order's
# responsibility r = p1*N(x;m1,s1) / (p1*N(x;m1,s1) + p2*N(x;m2,s2)).
# Emitting raw responsibility SUMS would expose float merge order, so
# the audit bins responsibilities into deciles and reports exact
# BIGINT counts — the soft-assignment profile that tells you whether
# the two components actually separate the data. Parameters are
# deliberately fixed literals (the M-step needs only these counts +
# within-bin moments at scale).
# --------------------------------------------------------------------------
_GMM = {"p1": 0.4, "m1": 50000.0, "s1": 30000.0, "m2": 200000.0, "s2": 80000.0}


@query(
    "q_gmm_estep",
    oracle=f"""
    WITH r AS (
      SELECT ({_GMM['p1']} * exp(-0.5 * pow((o_totalprice - {_GMM['m1']})
                                            / {_GMM['s1']}, 2))
                / {_GMM['s1']})
             / ({_GMM['p1']} * exp(-0.5 * pow((o_totalprice - {_GMM['m1']})
                                              / {_GMM['s1']}, 2))
                  / {_GMM['s1']}
                + {1.0 - _GMM['p1']}
                  * exp(-0.5 * pow((o_totalprice - {_GMM['m2']})
                                   / {_GMM['s2']}, 2))
                  / {_GMM['s2']}) AS resp
      FROM orders
    )
    SELECT CAST(least(floor(resp * 10), 9) AS BIGINT) AS resp_decile,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def q_gmm_estep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-step of a fixed two-component 1-D Gaussian mixture on order
    totals, reported as the decile histogram of component-1
    responsibilities. A bimodal fit shows mass piled at deciles 0
    and 9; mass in the middle means the components overlap and the
    mixture is mis-specified.

    Scale: responsibilities are per-row JVM expressions (exp/pow in
    whole-stage codegen, the shared normal-density kernel factored
    so each row computes two exps); the only shuffle is the 10-key
    histogram agg with map-side combine. Counts are exact BIGINTs —
    no cross-partition float accumulation reaches the output."""
    g = _GMM
    x = F.col("o_totalprice")
    d1 = (
        g["p1"]
        * F.exp(-0.5 * F.pow((x - g["m1"]) / g["s1"], 2))
        / g["s1"]
    )
    d2 = (
        (1.0 - g["p1"])
        * F.exp(-0.5 * F.pow((x - g["m2"]) / g["s2"], 2))
        / g["s2"]
    )
    resp = d1 / (d1 + d2)
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.least(F.floor(resp * 10), F.lit(9))
            .cast("bigint")
            .alias("resp_decile")
        )
        .groupBy("resp_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("resp_decile")
    )


# --------------------------------------------------------------------------
# Inverse-propensity-weighted ATE (r9). Diff-in-diff and CUPED need a
# time axis or a covariate; IPTW is the cross-sectional causal
# estimator — reweight each arm by 1/P(treatment|X) so the arms
# match the full population's covariate mix (Horvitz-Thompson /
# Hajek). The propensity here is a KNOWN linear model in quantity
# (no fitting, no exp), and all weighted sums are carried as exact
# BIGINT milli-units (floor(x*1000 + 0.5), floor being bit-exact on
# both engines) so no cross-partition float accumulation exists.
# --------------------------------------------------------------------------
@query(
    "q_iptw_ate",
    oracle="""
    WITH r AS (
      SELECT l_extendedprice AS y,
             CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS treated,
             0.3 + 0.4 * l_quantity / 50.0 AS p
      FROM lineitem
    ), w AS (
      SELECT treated, y,
             CASE WHEN treated = 1 THEN 1.0 / p
                  ELSE 1.0 / (1.0 - p) END AS wt
      FROM r
    ), arms AS (
      SELECT treated,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(wt * 1000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS w_milli,
             CAST(sum(CAST(floor(wt * y * 1000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS wy_milli
      FROM w GROUP BY treated
    )
    SELECT max(CASE WHEN treated = 1 THEN n END) AS n_treated,
           max(CASE WHEN treated = 0 THEN n END) AS n_control,
           round(CAST(max(CASE WHEN treated = 1 THEN wy_milli END)
                      AS DOUBLE)
                 / max(CASE WHEN treated = 1 THEN w_milli END), 4)
             AS mean_treated,
           round(CAST(max(CASE WHEN treated = 0 THEN wy_milli END)
                      AS DOUBLE)
                 / max(CASE WHEN treated = 0 THEN w_milli END), 4)
             AS mean_control,
           round(CAST(max(CASE WHEN treated = 1 THEN wy_milli END)
                      AS DOUBLE)
                 / max(CASE WHEN treated = 1 THEN w_milli END)
                 - CAST(max(CASE WHEN treated = 0 THEN wy_milli END)
                        AS DOUBLE)
                   / max(CASE WHEN treated = 0 THEN w_milli END), 4)
             AS ate
    FROM arms
    """,
)
def q_iptw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of a
    high discount (>= 0.06) on extended price, reweighting both arms
    by a known linear propensity in quantity (Hajek ratio estimator:
    weighted mean per arm, then the difference).

    Scale: one scan; per-row weights are codegen arithmetic and the
    per-arm accumulation sums exact BIGINT milli-units (floor is
    bit-identical across engines, unlike round), so the estimate is
    reproducible under any partitioning — the same integer-sum
    discipline as the quality classifier."""
    li = load_table(spark, sf_dir, "lineitem")
    p = 0.3 + 0.4 * F.col("l_quantity") / 50.0
    treated = F.when(F.col("l_discount") >= 0.06, 1).otherwise(0)
    wt = F.when(treated == 1, 1.0 / p).otherwise(1.0 / (1.0 - p))
    arms = (
        li.select(
            treated.alias("treated"),
            F.floor(wt * 1000.0 + 0.5).cast("bigint").alias("w_milli"),
            F.floor(wt * F.col("l_extendedprice") * 1000.0 + 0.5)
            .cast("bigint")
            .alias("wy_milli"),
        )
        .groupBy("treated")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("w_milli").cast("bigint").alias("w_milli"),
            F.sum("wy_milli").cast("bigint").alias("wy_milli"),
        )
    )
    mt = F.max(F.when(F.col("treated") == 1, F.col("wy_milli"))).cast(
        "double"
    ) / F.max(F.when(F.col("treated") == 1, F.col("w_milli")))
    mc = F.max(F.when(F.col("treated") == 0, F.col("wy_milli"))).cast(
        "double"
    ) / F.max(F.when(F.col("treated") == 0, F.col("w_milli")))
    return arms.agg(
        F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("n_treated"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("n_control"),
        rnd(mt, 4).alias("mean_treated"),
        rnd(mc, 4).alias("mean_control"),
        rnd(mt - mc, 4).alias("ate"),
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test (r9). Mann-Whitney compares two
# INDEPENDENT groups; the week-over-week question ("did this week's
# days outperform the same weekdays last week?") is PAIRED, and the
# signed-rank test is its distribution-free answer. Midranks over
# |diff| follow the q_mann_whitney pattern; every rank is a multiple
# of 0.5, so rank sums are exact in double arithmetic regardless of
# partitioning — no sorted fold needed.
# --------------------------------------------------------------------------
@query(
    "q_wilcoxon_signed_rank",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), pairs AS (
      SELECT a.x - b.x AS diff
      FROM daily a JOIN daily b ON a.d = b.d + INTERVAL 7 DAY
      WHERE a.x <> b.x
    ), vals AS (
      SELECT abs(diff) AS ad,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_pos,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM pairs GROUP BY 1
    ), ranked AS (
      SELECT n_pos, cnt,
             sum(cnt) OVER (ORDER BY ad) - cnt + (cnt + 1) / 2 AS avg_rank
      FROM vals
    ), agg AS (
      SELECT sum(avg_rank * n_pos) AS w_plus,
             CAST(sum(cnt) AS BIGINT) AS n
      FROM ranked
    )
    SELECT n AS n_pairs,
           round(w_plus, 2) AS w_plus,
           round((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS z,
           abs((w_plus - n * (n + 1) / 4.0)
               / sqrt(n * (n + 1) * (2 * n + 1) / 24.0)) > 1.96
             AS significant
    FROM agg
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired week-over-week daily
    purchase revenue (day t vs day t-7): midranks of |difference|,
    W+ = rank sum over positive differences, normal approximation z.
    Zero differences drop per the standard procedure.

    Scale: the fact table collapses to the day level first; the
    pairing is a day-keyed self-join of the bounded series and the
    midrank pass one window over distinct |diff| values. Ranks are
    half-integers, so their sums are exact doubles on any engine and
    partitioning."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
    )
    b = daily.select(
        (F.col("d") + F.expr("INTERVAL 7 DAYS")).alias("d"),
        F.col("x").alias("xb"),
    )
    pairs = (
        daily.join(b, "d")
        .filter(F.col("x") != F.col("xb"))
        .select((F.col("x") - F.col("xb")).alias("diff"))
    )
    vals = pairs.groupBy(F.abs("diff").alias("ad")).agg(
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("double")
        .alias("n_pos"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    w = Window.orderBy("ad")
    ranked = vals.withColumn(
        "avg_rank",
        F.sum("cnt").over(w) - F.col("cnt") + (F.col("cnt") + 1) / 2,
    )
    agg = ranked.agg(
        F.sum(F.col("avg_rank") * F.col("n_pos")).alias("w_plus"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    z = (F.col("w_plus") - F.col("n") * (F.col("n") + 1) / 4.0) / F.sqrt(
        F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        rnd("w_plus", 2).alias("w_plus"),
        rnd(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# --------------------------------------------------------------------------
# Uplift-by-decile with the Qini accumulation (r9). A/B readouts
# (q_ab_test_analysis, q_ab_cuped) estimate ONE average effect; a
# targeting model needs the effect BY model decile — uplift = treated
# minus control conversion per score band, and the cumulative Qini
# numerator that ranks "whom to treat first". Treatment assignment
# and score are deterministic arithmetic (user parity / profile
# score), every cell an exact BIGINT count with one division.
# --------------------------------------------------------------------------
@query(
    "q_uplift_deciles",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS treated,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT treated, converted,
             ntile(5) OVER (ORDER BY n_events DESC, user_id) AS quintile
      FROM u
    ), cells AS (
      SELECT quintile,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(sum(1 - treated) AS BIGINT) AS n_c,
             CAST(sum(treated * converted) AS BIGINT) AS conv_t,
             CAST(sum((1 - treated) * converted) AS BIGINT) AS conv_c
      FROM scored GROUP BY quintile
    )
    SELECT quintile, n_t, n_c, conv_t, conv_c,
           round(CASE WHEN n_t > 0 AND n_c > 0
                      THEN CAST(conv_t AS DOUBLE) / n_t
                           - CAST(conv_c AS DOUBLE) / n_c END, 6) AS uplift,
           round(sum(CASE WHEN n_c > 0
                          THEN CAST(conv_t AS DOUBLE)
                               - CAST(conv_c AS DOUBLE) * n_t / n_c
                          ELSE CAST(conv_t AS DOUBLE) END)
                   OVER (ORDER BY quintile), 4) AS qini_cum
    FROM cells ORDER BY quintile
    """,
)
def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quintile uplift readout: users split into treatment/control
    by id parity, ranked into activity quintiles, each reporting
    treated-minus-control conversion and the cumulative Qini
    numerator (incremental conversions if treatment stopped after
    this band); a band missing an arm reports null uplift and
    contributes its raw treated conversions to Qini.

    Scale: one keyed agg collapses events to users; the quintile
    assignment is an EXACT distributed ntile (``global_ntile``:
    two-phase range-partitioned global ranks + broadcast tile
    arithmetic — no single-task global window; the DESC axis passes
    the negated BIGINT count), then a 5-row cell table — counts are
    exact BIGINTs, the ordering fully tied down by (n_events,
    user_id). The Qini running sum adds one 5-row window."""
    from sparrow_spark.operators.dedup import global_ntile

    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("converted"),
        )
    )
    scored = global_ntile(
        u.withColumn("neg_n_events", -F.col("n_events")),
        5,
        ["neg_n_events", "user_id"],
        "quintile",
    ).select("treated", "converted", "quintile")
    # The Qini accumulation runs as a triangular self-join over the
    # 5-row cell table (pinned once — the upstream is a full corpus
    # agg) instead of a partition-less window, so the plan carries no
    # single-task WindowExec at all.
    cells = (
        scored.groupBy("quintile")
        .agg(
            F.sum("treated").cast("bigint").alias("n_t"),
            F.sum(1 - F.col("treated")).cast("bigint").alias("n_c"),
            F.sum(F.col("treated") * F.col("converted"))
            .cast("bigint")
            .alias("conv_t"),
            F.sum((1 - F.col("treated")) * F.col("converted"))
            .cast("bigint")
            .alias("conv_c"),
        )
        .withColumn(
            "qini_term",
            F.when(
                F.col("n_c") > 0,
                F.col("conv_t").cast("double")
                - F.col("conv_c").cast("double")
                * F.col("n_t")
                / F.col("n_c"),
            ).otherwise(F.col("conv_t").cast("double")),
        )
        .localCheckpoint(eager=True)
    )
    cum = (
        cells.alias("a")
        .join(
            # broadcast the 5-row side: theta join as a
            # BroadcastNestedLoopJoin, not a two-sided-shuffle
            # CartesianProduct (flagged by the r11 plan sweep).
            F.broadcast(cells.alias("b")),
            F.col("b.quintile") <= F.col("a.quintile"),
        )
        .groupBy(F.col("a.quintile").alias("quintile"))
        .agg(F.sum(F.col("b.qini_term")).alias("qini_raw"))
    )
    return (
        cells.join(cum, "quintile")
        .select(
            "quintile",
            "n_t",
            "n_c",
            "conv_t",
            "conv_c",
            rnd(
                F.when(
                    (F.col("n_t") > 0) & (F.col("n_c") > 0),
                    F.col("conv_t").cast("double") / F.col("n_t")
                    - F.col("conv_c").cast("double") / F.col("n_c"),
                ),
                6,
            ).alias("uplift"),
            rnd(F.col("qini_raw"), 4).alias("qini_cum"),
        )
        .orderBy("quintile")
    )


# --------------------------------------------------------------------------
# Sequential probability ratio test (r9, Wald 1945). Power analysis
# (q_power_analysis) sizes a FIXED-horizon test; an always-on
# experimentation platform instead monitors the log-likelihood ratio
# daily and stops at the first boundary crossing — the SPRT, whose
# cumulative LLR is a plain window cumsum over the day-collapsed
# conversion counts (no recursion needed). H0 p=0.30 vs H1 p=0.35 on
# the daily purchase share of events; boundaries ln(19) for
# alpha = beta = 0.05.
# --------------------------------------------------------------------------
@query(
    "q_sprt_sequential",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    ), llr AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, n, k,
             sum(k * ln(0.35 / 0.30)
                 + (n - k) * ln(0.65 / 0.70)) OVER (ORDER BY d) AS cum_llr
      FROM daily
    ), flagged AS (
      SELECT day, n, k, round(cum_llr, 4) AS cum_llr,
             cum_llr >= ln(19.0) AS accept_h1,
             cum_llr <= -ln(19.0) AS accept_h0,
             row_number() OVER (ORDER BY day) AS rn,
             min(CASE WHEN abs(cum_llr) >= ln(19.0)
                      THEN day END) OVER () AS first_decision_day
      FROM llr
    )
    SELECT day, n, k, cum_llr, accept_h1, accept_h0, first_decision_day
    FROM flagged ORDER BY day
    """,
)
def q_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT monitoring of the daily purchase share (H0 p=0.30 vs
    H1 p=0.35, alpha=beta=0.05): the cumulative log-likelihood ratio
    per day, the boundary flags at +-ln(19), and the first day a
    boundary was crossed — the always-valid sequential readout an
    experimentation platform keeps instead of a fixed-horizon test.

    Scale: events collapse to (day, n, k) in one keyed agg; the LLR
    is a pure cumsum window over the bounded day series (each term
    an exact-integer multiple of two log constants, so the cumsum is
    engine-identical), and the decision day one unbounded min
    window."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    term = F.col("k") * float(__import__("math").log(0.35 / 0.30)) + (
        F.col("n") - F.col("k")
    ) * float(__import__("math").log(0.65 / 0.70))
    w = Window.orderBy("d")
    thr = float(__import__("math").log(19.0))
    llr = daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        "k",
        F.sum(term).over(w).alias("cum_llr_raw"),
        F.col("d"),
    )
    return (
        llr.select(
            "day",
            "n",
            "k",
            rnd("cum_llr_raw", 4).alias("cum_llr"),
            (F.col("cum_llr_raw") >= thr).alias("accept_h1"),
            (F.col("cum_llr_raw") <= -thr).alias("accept_h0"),
            F.min(
                F.when(F.abs(F.col("cum_llr_raw")) >= thr, F.col("day"))
            )
            .over(
                Window.orderBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("first_decision_day"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# HMM forward algorithm (r9). The Markov family so far is fully
# observed (q_markov_transitions, q_markov_entropy); a regime model
# needs the HIDDEN-state likelihood — the forward recursion over a
# 2-state calm/busy chain emitting HIGH/LOW daily revenue. Log-space
# with an explicit 2-term log-sum-exp, the strictly-ordered fold
# discipline of q_page_hinkley (Spark folds the sorted day array;
# DuckDB replays the identical recursion), plus a filtered busy-day
# counter carried in the state.
# --------------------------------------------------------------------------
_HMM = {
    "p_hh_calm": 0.3,   # P(HIGH | calm)
    "p_hh_busy": 0.8,   # P(HIGH | busy)
    "t_cb": 0.2,        # P(calm -> busy)
    "t_bc": 0.3,        # P(busy -> calm)
    "thresh": 100.0,    # HIGH = daily mean purchase value above this
}


def _hmm_step_sql() -> str:
    """One forward step: a'_j = ln e_j(o) + LSE_i(a_i + ln T_ij)."""
    e_c = f"CASE WHEN o.hi THEN ln({_HMM['p_hh_calm']}) ELSE ln({1.0 - _HMM['p_hh_calm']}) END"
    e_b = f"CASE WHEN o.hi THEN ln({_HMM['p_hh_busy']}) ELSE ln({1.0 - _HMM['p_hh_busy']}) END"
    lse = (
        "greatest({x}, {y}) + ln(1 + exp(least({x}, {y}) - greatest({x}, {y})))"
    )
    in_c = lse.format(
        x=f"p.a0 + ln({1.0 - _HMM['t_cb']})", y=f"p.a1 + ln({_HMM['t_bc']})"
    )
    in_b = lse.format(
        x=f"p.a0 + ln({_HMM['t_cb']})", y=f"p.a1 + ln({1.0 - _HMM['t_bc']})"
    )
    return e_c, e_b, in_c, in_b, lse


@query(
    "q_hmm_forward",
    oracle=(lambda e_c, e_b, in_c, in_b, lse: f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, avg(value) > {_HMM['thresh']} AS hi
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), ord AS (
      SELECT hi, row_number() OVER (ORDER BY d) AS rn FROM daily
    ), fwd(rn, a0, a1, nb) AS (
      SELECT CAST(0 AS BIGINT), ln(0.5), ln(0.5), CAST(0 AS BIGINT)
      UNION ALL
      SELECT o.rn,
             {e_c} + {in_c},
             {e_b} + {in_b},
             p.nb + CASE WHEN {e_b} + {in_b} > {e_c} + {in_c}
                         THEN 1 ELSE 0 END
      FROM fwd p JOIN ord o ON o.rn = p.rn + 1
    )
    SELECT rn AS n_days,
           round({lse.format(x='a0', y='a1')}, 4) AS log_likelihood,
           round(exp(a1 - ({lse.format(x='a0', y='a1')})), 6)
             AS p_busy_final,
           nb AS n_busy_days
    FROM fwd WHERE rn = (SELECT max(rn) FROM fwd)
    """)(*_hmm_step_sql()),
)
def q_hmm_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-algorithm log-likelihood of a fixed 2-state HMM
    (calm/busy regimes emitting HIGH/LOW daily mean purchase value),
    plus the filtered P(busy) on the final day and the count of days
    the filtered odds favored busy. Log-space with a 2-term
    log-sum-exp at every step.

    Scale: the fact table collapses to one boolean per day; the
    forward recursion is a strictly-ordered fold over the sorted day
    array with O(1) state (two log-alphas and a counter) — the
    q_page_hinkley discipline, every intermediate float produced in
    identical order on both engines."""
    h = _HMM
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg((F.avg("value") > h["thresh"]).alias("hi"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "hi"))).alias("s")
    )

    def lse(x, y):
        return F.greatest(x, y) + F.log(
            1 + F.exp(F.least(x, y) - F.greatest(x, y))
        )

    import math

    ln = math.log

    def step(a, e):
        e_c = F.when(e["hi"], ln(h["p_hh_calm"])).otherwise(
            ln(1.0 - h["p_hh_calm"])
        )
        e_b = F.when(e["hi"], ln(h["p_hh_busy"])).otherwise(
            ln(1.0 - h["p_hh_busy"])
        )
        in_c = lse(a["a0"] + ln(1.0 - h["t_cb"]), a["a1"] + ln(h["t_bc"]))
        in_b = lse(a["a0"] + ln(h["t_cb"]), a["a1"] + ln(1.0 - h["t_bc"]))
        na0 = e_c + in_c
        na1 = e_b + in_b
        return F.struct(
            na0.alias("a0"),
            na1.alias("a1"),
            (a["nb"] + F.when(na1 > na0, 1).otherwise(0)).alias("nb"),
        )

    st = F.aggregate(
        "s",
        F.struct(
            F.lit(ln(0.5)).alias("a0"),
            F.lit(ln(0.5)).alias("a1"),
            F.lit(0).cast("bigint").alias("nb"),
        ),
        step,
    )
    return series.select(
        F.size("s").cast("bigint").alias("n_days"), st.alias("st")
    ).select(
        "n_days",
        rnd(lse(F.col("st.a0"), F.col("st.a1")), 4).alias("log_likelihood"),
        rnd(
            F.exp(F.col("st.a1") - lse(F.col("st.a0"), F.col("st.a1"))), 6
        ).alias("p_busy_final"),
        F.col("st.nb").alias("n_busy_days"),
    )


# --------------------------------------------------------------------------
# Effect-size suite (r9). q_ab_test_analysis answers "is it
# significant"; the decision needs "how BIG is it" — Cohen's d on
# the pooled SD, the small-sample Hedges' g correction, and the
# distribution-free Cliff's delta recovered exactly from the
# Mann-Whitney U (delta = 2U/(n1*n2) - 1, so the rank machinery is
# reused and the pairwise probability needs no pair join).
# --------------------------------------------------------------------------
@query(
    "q_effect_size_suite",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT CAST(sum(g1) AS DOUBLE) AS n1,
             CAST(sum(1 - g1) AS DOUBLE) AS n2,
             avg(CASE WHEN g1 = 1 THEN value END) AS m1,
             avg(CASE WHEN g1 = 0 THEN value END) AS m2,
             var_samp(CASE WHEN g1 = 1 THEN value END) AS v1,
             var_samp(CASE WHEN g1 = 0 THEN value END) AS v2
      FROM s
    ), vals AS (
      SELECT value,
             CAST(sum(g1) AS DOUBLE) AS c1,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM s GROUP BY value
    ), ranked AS (
      SELECT c1, cnt,
             sum(cnt) OVER (ORDER BY value) - cnt + (cnt + 1) / 2
               AS avg_rank
      FROM vals
    ), u AS (
      SELECT sum(avg_rank * c1) AS r1 FROM ranked
    ), d AS (
      SELECT m.n1, m.n2,
             (m.m1 - m.m2)
               / sqrt(((m.n1 - 1) * m.v1 + (m.n2 - 1) * m.v2)
                      / (m.n1 + m.n2 - 2)) AS cohens_d,
             (u.r1 - m.n1 * (m.n1 + 1) / 2) / (m.n1 * m.n2) AS auc
      FROM m CROSS JOIN u
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(cohens_d, 6) AS cohens_d,
           round(cohens_d * (1 - 3 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           round(2 * auc - 1, 6) AS cliffs_delta,
           round(auc, 6) AS prob_superiority
    FROM d
    """,
)
def q_effect_size_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the even/odd-user purchase-value split:
    Cohen's d on the pooled SD, Hedges' g small-sample correction,
    and Cliff's delta plus the probability of superiority recovered
    exactly from the midrank Mann-Whitney U — no pairwise join.

    Scale: one scan feeds both the moment aggregates and the
    distinct-value midranks; the distinct-value table grows WITH the
    corpus (continuous purchase values: ~1 distinct per row), so the
    running count uses ``global_running_sums`` (range-partition +
    local cumsum + broadcast predecessor offsets) instead of a
    single-task ordered window; every pairwise quantity comes from
    rank algebra, so the O(n^2) comparison never materializes."""
    from sparrow_spark.operators.dedup import global_running_sums

    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "value",
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("g1"),
        )
    )
    m = s.agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum(1 - F.col("g1")).cast("double").alias("n2"),
        F.avg(F.when(F.col("g1") == 1, F.col("value"))).alias("m1"),
        F.avg(F.when(F.col("g1") == 0, F.col("value"))).alias("m2"),
        F.var_samp(F.when(F.col("g1") == 1, F.col("value"))).alias("v1"),
        F.var_samp(F.when(F.col("g1") == 0, F.col("value"))).alias("v2"),
    )
    vals = s.groupBy("value").agg(
        F.sum("g1").cast("double").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    ranked = global_running_sums(vals, ["value"], ["cnt"]).withColumn(
        "avg_rank",
        F.col("cum_cnt") - F.col("cnt") + (F.col("cnt") + 1) / 2,
    )
    u = ranked.agg(F.sum(F.col("avg_rank") * F.col("c1")).alias("r1"))
    d = m.crossJoin(u).select(
        "n1",
        "n2",
        (
            (F.col("m1") - F.col("m2"))
            / F.sqrt(
                (
                    (F.col("n1") - 1) * F.col("v1")
                    + (F.col("n2") - 1) * F.col("v2")
                )
                / (F.col("n1") + F.col("n2") - 2)
            )
        ).alias("cohens_d"),
        (
            (F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2)
            / (F.col("n1") * F.col("n2"))
        ).alias("auc"),
    )
    return d.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        rnd("cohens_d", 6).alias("cohens_d"),
        rnd(
            F.col("cohens_d")
            * (1 - 3 / (4 * (F.col("n1") + F.col("n2")) - 9)),
            6,
        ).alias("hedges_g"),
        rnd(2 * F.col("auc") - 1, 6).alias("cliffs_delta"),
        rnd("auc", 6).alias("prob_superiority"),
    )


# --------------------------------------------------------------------------
# Event-study leads and lags (r9). q_diff_in_diff reports ONE number;
# the credibility check reviewers actually demand is the event-study
# PLOT — the treated-minus-control gap per day RELATIVE to the
# cutover, normalized to the day before treatment. Flat pre-period
# coefficients validate the parallel-trends assumption; the
# post-period profile shows effect dynamics. Pure per-cell means of
# the day-collapsed table, one window to re-center on the reference
# day.
# --------------------------------------------------------------------------
@query(
    "q_did_event_study",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS lo,
             CAST(max(date_trunc('day', ts)) AS TIMESTAMP) AS hi
      FROM events
    ), cut AS (
      SELECT make_timestamp(CAST((epoch_us(lo) + epoch_us(hi)) // 2
                                 AS BIGINT)) AS c
      FROM bounds
    ), cells AS (
      SELECT datediff('day', (SELECT c FROM cut),
                      CAST(date_trunc('day', ts) AS TIMESTAMP)) AS rel_day,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
             avg(value) AS m
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), gap AS (
      SELECT rel_day,
             max(CASE WHEN treated = 1 THEN m END)
               - max(CASE WHEN treated = 0 THEN m END) AS g
      FROM cells GROUP BY rel_day
      HAVING count(*) = 2
    ), ref AS (
      SELECT g AS g_ref FROM gap WHERE rel_day = -1
    )
    SELECT g.rel_day,
           round(g.g, 4) AS gap,
           round(g.g - r.g_ref, 4) AS event_study_coef,
           g.rel_day >= 0 AS post
    FROM gap g CROSS JOIN ref r
    WHERE g.rel_day BETWEEN -7 AND 7
    ORDER BY g.rel_day
    """,
)
def q_did_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study coefficients around the mid-window cutover used by
    q_diff_in_diff: per relative day in [-7, +7], the treated-minus-
    control mean-value gap re-centered on day -1 — flat pre-period
    coefficients are the parallel-trends evidence, the post profile
    the effect's dynamics.

    Scale: one keyed (relative day, arm) agg over the fact table —
    everything after runs on the day-bounded cell table; the
    reference-day recentering is a broadcast scalar."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("lo"),
        F.max(F.date_trunc("day", "ts")).alias("hi"),
    ).select(
        F.timestamp_micros(
            (
                (F.unix_micros("lo") + F.unix_micros("hi")) / 2
            ).cast("bigint")
        ).alias("cut")
    )
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(bounds)
        .groupBy(
            F.datediff(F.date_trunc("day", "ts"), "cut").cast("bigint").alias(
                "rel_day"
            ),
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias(
                "treated"
            ),
        )
        .agg(F.avg("value").alias("m"))
    )
    gap = (
        cells.groupBy("rel_day")
        .agg(
            (
                F.max(F.when(F.col("treated") == 1, F.col("m")))
                - F.max(F.when(F.col("treated") == 0, F.col("m")))
            ).alias("g"),
            F.count(F.lit(1)).alias("n_arms"),
        )
        .filter(F.col("n_arms") == 2)
    )
    ref = gap.filter(F.col("rel_day") == -1).select(
        F.col("g").alias("g_ref")
    )
    return (
        gap.crossJoin(ref)
        .filter(F.col("rel_day").between(-7, 7))
        .select(
            "rel_day",
            rnd("g", 4).alias("gap"),
            rnd(F.col("g") - F.col("g_ref"), 4).alias("event_study_coef"),
            (F.col("rel_day") >= 0).alias("post"),
        )
        .orderBy("rel_day")
    )


# --------------------------------------------------------------------------
# Energy-distance two-sample test (r9, Szekely & Rizzo). KS
# (q_ks_test) compares ECDFs through their single largest gap;
# the energy statistic E = 2 E|X-Y| - E|X-X'| - E|Y-Y'| weighs the
# WHOLE distance distribution and generalizes to vectors — the
# modern default for distribution drift. Weekday vs weekend daily
# revenue: the series collapses to days first, so the three pairwise
# means are day-count-bounded; each is a sorted fold over the
# absolute differences so the floats are bit-stable.
# --------------------------------------------------------------------------
@query(
    "q_energy_distance",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x,
             dayofweek(date_trunc('day', ts)) IN (0, 6) AS wknd
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), xy AS (
      SELECT list_reduce(list_sort(list(abs(a.x - b.x))), (p, q) -> p + q)
               / (count(*)) AS e_xy
      FROM daily a JOIN daily b ON a.wknd AND NOT b.wknd
    ), xx AS (
      SELECT list_reduce(list_sort(list(abs(a.x - b.x))), (p, q) -> p + q)
               / (count(*)) AS e_xx
      FROM daily a JOIN daily b ON a.wknd AND b.wknd
    ), yy AS (
      SELECT list_reduce(list_sort(list(abs(a.x - b.x))), (p, q) -> p + q)
               / (count(*)) AS e_yy
      FROM daily a JOIN daily b ON NOT a.wknd AND NOT b.wknd
    ), nn AS (
      SELECT CAST(sum(CASE WHEN wknd THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN wknd THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM daily
    )
    SELECT nn.n1 AS n_weekend, nn.n2 AS n_weekday,
           round(xy.e_xy, 4) AS mean_cross_dist,
           round(xx.e_xx, 4) AS mean_within_weekend,
           round(yy.e_yy, 4) AS mean_within_weekday,
           round(2 * xy.e_xy - xx.e_xx - yy.e_yy, 4) AS energy_distance,
           round((2 * xy.e_xy - xx.e_xx - yy.e_yy)
                 * nn.n1 * nn.n2 / (nn.n1 + nn.n2), 4) AS e_statistic
    FROM xy CROSS JOIN xx CROSS JOIN yy CROSS JOIN nn
    """,
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between weekend and weekday daily purchase
    revenue: twice the mean cross-group distance minus both
    within-group means — the V-statistic form (diagonal self-pairs
    included), which is nonnegative by Szekely's inequality and zero
    iff the distributions are equal — plus
    the n1*n2/(n1+n2)-scaled E-statistic used for the permutation
    test at scale.

    Scale: the fact table collapses to one row per day; the three
    pairwise stages are day-bounded theta joins whose distance sums
    run as sorted folds — bit-stable and tiny regardless of event
    volume."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
        .withColumn(
            "wknd", (F.dayofweek("d") - 1).isin(0, 6)
        )
        .localCheckpoint(eager=True)
    )

    def pair_mean(cond, name):
        a = daily.select(
            F.col("d").alias("ad"), F.col("x").alias("ax"),
            F.col("wknd").alias("aw"),
        )
        b = daily.select(
            F.col("d").alias("bd"), F.col("x").alias("bx"),
            F.col("wknd").alias("bw"),
        )
        return (
            a.join(b, cond)
            .agg(
                (
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(F.abs(F.col("ax") - F.col("bx")))
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / F.count(F.lit(1))
                ).alias(name)
            )
        )

    xy = pair_mean(F.col("aw") & ~F.col("bw"), "e_xy")
    xx = pair_mean(F.col("aw") & F.col("bw"), "e_xx")
    yy = pair_mean(~F.col("aw") & ~F.col("bw"), "e_yy")
    nn = daily.agg(
        F.sum(F.when(F.col("wknd"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("wknd"), 0).otherwise(1))
        .cast("bigint")
        .alias("n2"),
    )
    e = 2 * F.col("e_xy") - F.col("e_xx") - F.col("e_yy")
    return (
        xy.crossJoin(xx)
        .crossJoin(yy)
        .crossJoin(nn)
        .select(
            F.col("n1").alias("n_weekend"),
            F.col("n2").alias("n_weekday"),
            rnd("e_xy", 4).alias("mean_cross_dist"),
            rnd("e_xx", 4).alias("mean_within_weekend"),
            rnd("e_yy", 4).alias("mean_within_weekday"),
            rnd(e, 4).alias("energy_distance"),
            rnd(
                e * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")),
                4,
            ).alias("e_statistic"),
        )
    )


# --------------------------------------------------------------------------
# Spearman rank correlation (r9). q_corr_matrix measures LINEAR
# association; Spearman is Pearson on midranks — monotone association
# robust to outliers and nonlinearity, the standard companion number
# in any metric-drift report. Daily order count vs daily revenue: the
# fact table collapses to one row per day first, so the rank windows
# run over a calendar-bounded table (the documented day-table escape),
# and midranks are averages of consecutive integers — half-integers,
# exact in double at any merge order.
# --------------------------------------------------------------------------
@query(
    "q_spearman_corr",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(count(*) AS DOUBLE) AS n_ord,
             CAST(sum(o_totalprice) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ), rx AS (
      SELECT d, n_ord, rev,
             avg(rn) OVER (PARTITION BY n_ord) AS r_x
      FROM (SELECT *, CAST(row_number() OVER (ORDER BY n_ord, d)
                           AS DOUBLE) AS rn FROM daily)
    ), rxy AS (
      SELECT d, n_ord, rev, r_x,
             avg(rn) OVER (PARTITION BY rev) AS r_y
      FROM (SELECT *, CAST(row_number() OVER (ORDER BY rev, d)
                           AS DOUBLE) AS rn FROM rx)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(corr(r_x, r_y), 6) AS spearman_rho,
           round(corr(n_ord, rev), 6) AS pearson_r
    FROM rxy
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order count and daily
    revenue, with the Pearson coefficient alongside for the
    linear-vs-monotone contrast. Midranks are tie-averaged
    (avg of row_number within each tied value group), so tied counts
    get identical ranks in both engines.

    Scale: the fact table collapses to one row per day before any
    window; the rank windows order a calendar-bounded table (the
    documented day-table escape — at 100 TB this table is still
    #days rows). Midranks are half-integers (exact in double), and
    corr() is the same sample Pearson on both engines."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_ord"),
            F.sum("o_totalprice").cast("double").alias("rev"),
        )
    )
    rw = Window.orderBy("n_ord", "d")
    daily = daily.withColumn(
        "r_x",
        F.avg(F.row_number().over(rw).cast("double")).over(
            Window.partitionBy("n_ord")
        ),
    )
    rw2 = Window.orderBy("rev", "d")
    daily = daily.withColumn(
        "r_y",
        F.avg(F.row_number().over(rw2).cast("double")).over(
            Window.partitionBy("rev")
        ),
    )
    return daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        rnd(F.corr("r_x", "r_y"), 6).alias("spearman_rho"),
        rnd(F.corr("n_ord", "rev"), 6).alias("pearson_r"),
    )


# --------------------------------------------------------------------------
# Cramer-von Mises two-sample test (r9, Anderson's rank form). KS
# reads the ECDF gap at ONE point and the energy statistic weighs raw
# distances; CvM integrates the SQUARED ECDF gap over the whole
# support — more power against spread/shape differences than KS while
# staying rank-only. U = n*sum((r_i - i)^2) + m*sum((s_j - j)^2) over
# combined vs within-sample ranks is pure BIGINT algebra — exact at
# any partitioning.
# --------------------------------------------------------------------------
@query(
    "q_cramer_von_mises",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x,
             dayofweek(date_trunc('day', ts)) IN (0, 6) AS wknd
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), ranked AS (
      SELECT wknd,
             row_number() OVER (ORDER BY x, d) AS rn,
             row_number() OVER (PARTITION BY wknd ORDER BY x, d) AS i
      FROM daily
    ), grp AS (
      SELECT wknd, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum((rn - i) * (rn - i)) AS BIGINT) AS ss
      FROM ranked GROUP BY wknd
    ), nn AS (
      SELECT max(CASE WHEN wknd THEN cnt END) AS n1,
             max(CASE WHEN NOT wknd THEN cnt END) AS n2,
             max(CASE WHEN wknd THEN ss END) AS sx,
             max(CASE WHEN NOT wknd THEN ss END) AS sy
      FROM grp
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           CAST(n1 * sx + n2 * sy AS BIGINT) AS u_stat,
           round(CAST(n1 * sx + n2 * sy AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n2 * (n1 + n2))
                 - (4.0 * n1 * n2 - 1) / (6.0 * (n1 + n2)), 6) AS t_stat
    FROM nn
    """,
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises criterion on weekend vs weekday
    daily purchase revenue, in Anderson's rank formulation:
    U = n*sum((r_i - i)^2) + m*sum((s_j - j)^2) with r/s the combined
    ranks and i/j the within-sample ranks, then
    T = U/(n*m*N) - (4nm - 1)/(6N). Under H0, T has mean 1/6.

    Cross-engine exactness: both rank families are row_numbers over
    the (x, d) total order, U is BIGINT arithmetic, and only the
    final T does float division.

    Scale: one row per day before any window — the rank windows order
    a calendar-bounded table (documented day-table escape)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
        .withColumn("wknd", (F.dayofweek("d") - 1).isin(0, 6))
    )
    ranked = daily.select(
        "wknd",
        F.row_number().over(Window.orderBy("x", "d")).alias("rn"),
        F.row_number()
        .over(Window.partitionBy("wknd").orderBy("x", "d"))
        .alias("i"),
    )
    grp = ranked.groupBy("wknd").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum((F.col("rn") - F.col("i")) * (F.col("rn") - F.col("i")))
        .cast("bigint")
        .alias("ss"),
    )
    nn = grp.agg(
        F.max(F.when(F.col("wknd"), F.col("cnt"))).alias("n1"),
        F.max(F.when(~F.col("wknd"), F.col("cnt"))).alias("n2"),
        F.max(F.when(F.col("wknd"), F.col("ss"))).alias("sx"),
        F.max(F.when(~F.col("wknd"), F.col("ss"))).alias("sy"),
    )
    u = F.col("n1") * F.col("sx") + F.col("n2") * F.col("sy")
    n1d = F.col("n1").cast("double")
    t = u / (n1d * F.col("n2") * (F.col("n1") + F.col("n2"))) - (
        4.0 * F.col("n1") * F.col("n2") - 1
    ) / (6.0 * (F.col("n1") + F.col("n2")))
    return nn.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        u.cast("bigint").alias("u_stat"),
        rnd(t, 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Delete-one-group jackknife (r9). The bootstrap CI (q_bootstrap_ci)
# resamples rows; the grouped jackknife is the survey-statistics
# variance estimator for RATIO statistics whose leave-one-out
# replicates are pure algebra over per-group totals — no resampling
# pass over the data at all. Reference semantics: Quenouille/Tukey
# delete-a-group jackknife as used for stratified survey weights.
# ---------------------------------------------------------------------------
@query(
    "q_jackknife_variance",
    oracle="""
    WITH g AS (
      SELECT date_trunc('month', l_shipdate) AS m,
             sum(l_extendedprice * (1 - l_discount)) AS s,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT sum(s) AS ts, sum(q) AS tq,
             CAST(count(*) AS BIGINT) AS ng
      FROM g
    ), reps AS (
      SELECT (ts - s) / (tq - q) AS r, ts, tq, ng FROM g, tot
    ), rb AS (
      SELECT avg(r) AS rbar FROM reps
    )
    SELECT ng AS n_groups,
           round(ts / tq, 6) AS ratio_hat,
           round(sqrt((ng - 1.0) / ng * sum((r - rbar) * (r - rbar))), 6)
             AS jack_se,
           round(ts / tq - 1.96 * sqrt((ng - 1.0) / ng
                 * sum((r - rbar) * (r - rbar))), 6) AS ci_lo,
           round(ts / tq + 1.96 * sqrt((ng - 1.0) / ng
                 * sum((r - rbar) * (r - rbar))), 6) AS ci_hi
    FROM reps, rb GROUP BY ng, ts, tq, rbar
    """,
)
def q_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of the revenue-per-
    unit ratio estimator R = sum(discounted price)/sum(quantity),
    with ship-months as the jackknife groups: each leave-one-month
    replicate R_(i) = (S - s_i)/(Q - q_i) is derived algebraically
    from the per-month totals, and var_jack = (G-1)/G *
    sum((R_(i) - Rbar)^2). The 95% CI uses the normal quantile.

    Cross-engine exactness: replicates are exact arithmetic over the
    same per-month sums; the only float reductions are the month-
    count-bounded sum of squares, rounded at 6 with the nudge.

    Scale: ONE keyed aggregation over the fact table (map-side
    partial), then all jackknife algebra runs on the G-row month
    table — replicate construction never rescans the data, which is
    what makes grouped jackknife the at-scale variance estimator
    (a row bootstrap would be G full passes)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Freeze the G-row month table: tot/reps/rb all branch off it, and
    # without the checkpoint each branch re-scans the fact table.
    g = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("s"),
            F.sum("l_quantity").cast("double").alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.agg(
        F.sum("s").alias("ts"),
        F.sum("q").alias("tq"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    reps = g.crossJoin(tot).select(
        ((F.col("ts") - F.col("s")) / (F.col("tq") - F.col("q"))).alias("r"),
        "ts", "tq", "ng",
    )
    rb = reps.agg(F.avg("r").alias("rbar"))
    dev = (F.col("r") - F.col("rbar")) * (F.col("r") - F.col("rbar"))
    se = F.sqrt((F.col("ng") - 1.0) / F.col("ng") * F.sum(dev))
    ratio = F.col("ts") / F.col("tq")
    return (
        reps.crossJoin(rb)
        .groupBy("ng", "ts", "tq", "rbar")
        .agg(F.sum(dev).alias("_ssq"))
        .select(
            F.col("ng").alias("n_groups"),
            rnd(ratio, 6).alias("ratio_hat"),
            rnd(
                F.sqrt((F.col("ng") - 1.0) / F.col("ng") * F.col("_ssq")), 6
            ).alias("jack_se"),
            rnd(
                ratio
                - 1.96
                * F.sqrt((F.col("ng") - 1.0) / F.col("ng") * F.col("_ssq")),
                6,
            ).alias("ci_lo"),
            rnd(
                ratio
                + 1.96
                * F.sqrt((F.col("ng") - 1.0) / F.col("ng") * F.col("_ssq")),
                6,
            ).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# QQ comparison table (r9). KS and CvM compress the two-sample
# contrast to one statistic; the quantile-quantile table is the
# diagnostic behind them — WHERE the distributions diverge. Deciles
# of weekend vs weekday daily purchase revenue.
# ---------------------------------------------------------------------------
@query(
    "q_qq_compare",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(sum(value) AS DOUBLE) AS x,
             dayofweek(date_trunc('day', ts)) IN (0, 6) AS wknd
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), qs AS (
      SELECT wknd,
             quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS ql
      FROM daily GROUP BY wknd
    ), ex AS (
      SELECT wknd, generate_subscripts(ql, 1) AS i, unnest(ql) AS qv
      FROM qs
    )
    SELECT round(i * 0.1, 1) AS p,
           round(max(CASE WHEN wknd THEN qv END), 4) AS q_weekend,
           round(max(CASE WHEN NOT wknd THEN qv END), 4) AS q_weekday,
           round(max(CASE WHEN wknd THEN qv END)
                 - max(CASE WHEN NOT wknd THEN qv END), 4) AS qq_gap
    FROM ex GROUP BY i ORDER BY p
    """,
)
def q_qq_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-grid quantile-quantile comparison of weekend vs weekday
    daily purchase revenue: both samples' linear-interpolated deciles
    side by side with the QQ gap — the location/scale/tail diagnostic
    behind the one-number KS and CvM tests (a constant gap = location
    shift, a widening gap = heavier weekend tail).

    Cross-engine exactness: Spark percentile() and DuckDB
    quantile_cont() share linear interpolation on DOUBLE, and the
    grid index arithmetic (i * 0.1) is identical on both sides.

    Scale: one row per day before the percentile agg (map-side
    partial into day-count-bounded groups); the decile table is 9
    rows. The percentile agg holds per-group sorted values — bounded
    here by the calendar, the documented day-table escape."""
    pcts = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").cast("double").alias("x"))
        .withColumn("wknd", (F.dayofweek("d") - 1).isin(0, 6))
    )
    qs = daily.groupBy("wknd").agg(
        F.percentile("x", F.array(*[F.lit(p) for p in pcts])).alias("ql")
    )
    ex = qs.select("wknd", F.posexplode("ql").alias("i0", "qv"))
    return (
        ex.groupBy((F.col("i0") + 1).alias("i"))
        .agg(
            F.max(F.when(F.col("wknd"), F.col("qv"))).alias("qw"),
            F.max(F.when(~F.col("wknd"), F.col("qv"))).alias("qd"),
        )
        .select(
            rnd(F.col("i") * 0.1, 1).alias("p"),
            rnd(F.col("qw"), 4).alias("q_weekend"),
            rnd(F.col("qd"), 4).alias("q_weekday"),
            rnd(F.col("qw") - F.col("qd"), 4).alias("qq_gap"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate (r9). The ecology estimator
# applied to corpus/user-base sizing: how many distinct purchasers
# exist, estimated from two capture occasions and their overlap —
# the Chapman-corrected Lincoln-Petersen estimator, the standard
# tool for "how much of the population did our sample see"
# (coverage of a crawl, dedup-cluster undercount, user-base size
# from two independent logs).
# ---------------------------------------------------------------------------
@query(
    "q_capture_recapture",
    oracle="""
    WITH occ AS (
      SELECT user_id,
             max(CASE WHEN day(ts) % 2 = 1 THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN day(ts) % 2 = 0 THEN 1 ELSE 0 END) AS in_b
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), cc AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS n1,
             CAST(sum(in_b) AS BIGINT) AS n2,
             CAST(sum(in_a * in_b) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS true_distinct
      FROM occ
    )
    SELECT n1, n2, m AS m_recaptured, true_distinct,
           round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1, 2)
             AS chapman_estimate,
           round(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1)
                 / true_distinct, 4) AS estimate_over_truth
    FROM cc
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman-corrected Lincoln-Petersen estimate of the distinct
    purchaser population from two capture occasions — odd vs even
    days of month — validated against the directly-counted truth:
    N_hat = (n1+1)(n2+1)/(m+1) - 1 with m the users captured in
    both. estimate_over_truth near 1 means the independence
    assumption holds for this split.

    Cross-engine exactness: every input to the estimator is BIGINT
    (capture flags are max-folded 0/1 per user); only the final
    estimate divides as DOUBLE, rounded with the nudge.

    Scale: one user-keyed aggregation with map-side partials (the
    capture flags combine associatively), then a single 4-counter
    fold — the population algebra never sees row-level data."""
    occ = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.dayofmonth("ts") % 2 == 1, 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.dayofmonth("ts") % 2 == 0, 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    cc = occ.agg(
        F.sum("in_a").cast("bigint").alias("n1"),
        F.sum("in_b").cast("bigint").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("true_distinct"),
    )
    est = (
        (F.col("n1") + 1).cast("double") * (F.col("n2") + 1)
    ) / (F.col("m") + 1) - 1
    return cc.select(
        "n1",
        "n2",
        F.col("m").alias("m_recaptured"),
        "true_distinct",
        rnd(est, 2).alias("chapman_estimate"),
        rnd(est / F.col("true_distinct"), 4).alias("estimate_over_truth"),
    )


# ---------------------------------------------------------------------------
# Gumbel return level (r9). Extreme-value companion to the VaR and
# control-chart queries: block maxima (daily max of hourly
# revenue) fit to a Gumbel distribution by method of moments, then
# inverted for the T-block return level — "the hourly revenue we
# expect to be exceeded once a month". The capacity-planning
# number behind peak provisioning. Blocks are days (the test data
# spans one calendar month, so day blocks give a real ~30-point
# fit where month blocks would be a single degenerate block).
# ---------------------------------------------------------------------------
@query(
    "q_gumbel_return_level",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(sum(value) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), blocks AS (
      SELECT date_trunc('day', h) AS d, max(x) AS mx
      FROM hourly GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             avg(mx) AS mean_max, stddev_samp(mx) AS sd_max
      FROM blocks
    )
    SELECT n_blocks, round(mean_max, 4) AS mean_max,
           round(sd_max, 4) AS sd_max,
           round(sd_max * sqrt(6) / pi(), 4) AS gumbel_beta,
           round(mean_max - 0.57721566490153286
                 * sd_max * sqrt(6) / pi(), 4) AS gumbel_mu,
           round(mean_max - 0.57721566490153286
                   * sd_max * sqrt(6) / pi()
                 - sd_max * sqrt(6) / pi()
                   * ln(-ln(1 - 1.0 / 30)), 4) AS return_level_30d
    FROM mom
    """,
)
def q_gumbel_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel block-maxima fit of daily maximum hourly purchase
    revenue by method of moments (beta = sd*sqrt(6)/pi, mu = mean -
    gamma*beta with Euler's gamma), inverted at T = 30 blocks for
    the once-a-month return level x_T = mu - beta*ln(-ln(1 - 1/T)).

    Cross-engine exactness: both engines compute the same two
    moments over the day-count-bounded block table, then identical
    closed-form constants; everything rounds at 4 with the nudge.

    Scale: hour-keyed agg with map-side partials, then a day-keyed
    max over the hour table, then one 3-number fold — the fit is
    O(blocks) after a single pass over the facts."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum("value").cast("double").alias("x"))
    )
    blocks = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.max("x").alias("mx")
    )
    mom = blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.avg("mx").alias("mean_max"),
        F.stddev_samp("mx").alias("sd_max"),
    )
    import math as _math

    beta = F.col("sd_max") * _math.sqrt(6) / _math.pi
    mu = F.col("mean_max") - 0.57721566490153286 * beta
    ret = mu - beta * _math.log(-_math.log(1 - 1.0 / 30))
    return mom.select(
        "n_blocks",
        rnd(F.col("mean_max"), 4).alias("mean_max"),
        rnd(F.col("sd_max"), 4).alias("sd_max"),
        rnd(beta, 4).alias("gumbel_beta"),
        rnd(mu, 4).alias("gumbel_mu"),
        rnd(ret, 4).alias("return_level_30d"),
    )


# ---------------------------------------------------------------------------
# Negative-binomial overdispersion audit (r9). Poisson models of
# per-user event counts underpin engagement forecasting; real count
# data is overdispersed. The dispersion index var/mean per event
# type, with the method-of-moments NB size r = mean^2/(var - mean)
# — the number a count model actually needs.
# ---------------------------------------------------------------------------
@query(
    "q_overdispersion_nb",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(c), 4) AS mean_count,
           round(var_pop(c), 4) AS var_count,
           round(var_pop(c) / avg(c), 4) AS dispersion_index,
           round(CASE WHEN var_pop(c) > avg(c)
                      THEN avg(c) * avg(c) / (var_pop(c) - avg(c))
                 END, 4) AS nb_size_r
    FROM per_user GROUP BY event_type ORDER BY event_type
    """,
)
def q_overdispersion_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion audit of per-user event counts by event type:
    dispersion index var/mean (1 under Poisson) and the
    method-of-moments negative-binomial size r = mean^2/(var-mean),
    NULL when the data is NOT overdispersed and Poisson suffices.
    This is the modeling gate before any count-based engagement
    forecast (Poisson vs NB regression).

    Cross-engine exactness: var_pop/avg parity is the q_corr_matrix
    precedent; the NB algebra is identical closed form, rounded at
    4 with the nudge.

    Scale: one (type, user) keyed agg with map-side partials, then
    a type-keyed moment agg — cardinality bounded by users x types,
    and the output by |types|."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    mean_c = F.avg("c")
    var_c = F.var_pop("c")
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            rnd(mean_c, 4).alias("mean_count"),
            rnd(var_c, 4).alias("var_count"),
            rnd(var_c / mean_c, 4).alias("dispersion_index"),
            rnd(
                F.when(
                    var_c > mean_c, mean_c * mean_c / (var_c - mean_c)
                ),
                4,
            ).alias("nb_size_r"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Multiple regression via normal equations (r9). The one-feature
# regressions (q_price_elasticity regr_slope, q_retention_halflife)
# stop at covar/var; the 3x3 normal-equation solve is the smallest
# real MULTIPLE regression — intercept + two features — and its
# closed-form cofactor inverse is exact algebra both engines
# reproduce bit-for-bit from the same ten moments. Daily purchase
# revenue explained by event volume and the weekend flag.
# ---------------------------------------------------------------------------
@query(
    "q_multiple_regression",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(value) AS DOUBLE) AS y,
             CAST(count(*) AS DOUBLE) AS x1,
             CASE WHEN dayofweek(date_trunc('day', ts)) IN (0, 6)
                  THEN 1.0 ELSE 0.0 END AS x2
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x1) AS s1, sum(x2) AS s2,
             sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
             sum(x2 * x2) AS s22,
             sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
             sum(y * y) AS syy
      FROM daily
    ), det AS (
      SELECT *,
             n * (s11 * s22 - s12 * s12)
             - s1 * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s12 - s11 * s2) AS dd
      FROM mo
    ), beta AS (
      SELECT *,
             (sy * (s11 * s22 - s12 * s12)
              - s1y * (s1 * s22 - s2 * s12)
              + s2y * (s1 * s12 - s2 * s11)) / dd AS b0,
             (n * (s1y * s22 - s12 * s2y)
              - sy * (s1 * s22 - s2 * s12)
              + s2 * (s1 * s2y - s1y * s2)) / dd AS b1,
             (n * (s11 * s2y - s1y * s12)
              - s1 * (s1 * s2y - s1y * s2)
              + sy * (s1 * s12 - s11 * s2)) / dd AS b2
      FROM det
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(b0, 4) AS beta_intercept,
           round(b1, 4) AS beta_volume,
           round(b2, 4) AS beta_weekend,
           round(1 - (syy + n * b0 * b0 + b1 * b1 * s11 + b2 * b2 * s22
                      - 2 * b0 * sy - 2 * b1 * s1y - 2 * b2 * s2y
                      + 2 * b0 * b1 * s1 + 2 * b0 * b2 * s2
                      + 2 * b1 * b2 * s12)
                     / (syy - sy * sy / n), 4) AS r_squared
    FROM beta
    """,
)
def q_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-parameter OLS (intercept, event volume, weekend flag) on
    daily purchase revenue, solved in closed form from the 3x3 normal
    equations by cofactor expansion — and R-squared derived from the
    SAME ten moments (SSE = Syy + b'X'Xb - 2b'X'y expanded), so the
    whole fit is one aggregation plus scalar algebra, no second data
    pass and no iterative solver.

    Cross-engine exactness: both engines expand identical cofactor
    and SSE formulas over the same moment sums; output rounds at 4
    with the nudge.

    Scale: one day-keyed agg with map-side partials, one 10-number
    moment fold, then O(1) algebra — the regression never rescans
    or shuffles the facts, the same discipline as q_logreg's
    gradient step. At 100 TB with p features this becomes the
    p^2-moment Gram fold of q_pca_power_iteration."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum("value").cast("double").alias("y"),
            F.count(F.lit(1)).cast("double").alias("x1"),
        )
        .withColumn(
            "x2",
            F.when((F.dayofweek("d") - 1).isin(0, 6), 1.0).otherwise(0.0),
        )
    )
    mo = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = F.col
    det = mo.withColumn(
        "dd",
        c("n") * (c("s11") * c("s22") - c("s12") * c("s12"))
        - c("s1") * (c("s1") * c("s22") - c("s12") * c("s2"))
        + c("s2") * (c("s1") * c("s12") - c("s11") * c("s2")),
    )
    beta = (
        det.withColumn(
            "b0",
            (
                c("sy") * (c("s11") * c("s22") - c("s12") * c("s12"))
                - c("s1y") * (c("s1") * c("s22") - c("s2") * c("s12"))
                + c("s2y") * (c("s1") * c("s12") - c("s2") * c("s11"))
            )
            / c("dd"),
        )
        .withColumn(
            "b1",
            (
                c("n") * (c("s1y") * c("s22") - c("s12") * c("s2y"))
                - c("sy") * (c("s1") * c("s22") - c("s2") * c("s12"))
                + c("s2") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
            )
            / c("dd"),
        )
        .withColumn(
            "b2",
            (
                c("n") * (c("s11") * c("s2y") - c("s1y") * c("s12"))
                - c("s1") * (c("s1") * c("s2y") - c("s1y") * c("s2"))
                + c("sy") * (c("s1") * c("s12") - c("s11") * c("s2"))
            )
            / c("dd"),
        )
    )
    sse = (
        c("syy")
        + c("n") * c("b0") * c("b0")
        + c("b1") * c("b1") * c("s11")
        + c("b2") * c("b2") * c("s22")
        - 2 * c("b0") * c("sy")
        - 2 * c("b1") * c("s1y")
        - 2 * c("b2") * c("s2y")
        + 2 * c("b0") * c("b1") * c("s1")
        + 2 * c("b0") * c("b2") * c("s2")
        + 2 * c("b1") * c("b2") * c("s12")
    )
    sst = c("syy") - c("sy") * c("sy") / c("n")
    return beta.select(
        c("n").cast("bigint").alias("n_days"),
        rnd(c("b0"), 4).alias("beta_intercept"),
        rnd(c("b1"), 4).alias("beta_volume"),
        rnd(c("b2"), 4).alias("beta_weekend"),
        rnd(1 - sse / sst, 4).alias("r_squared"),
    )
