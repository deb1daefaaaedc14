"""User-behavior analytics over the event stream: RFM segmentation,
run-length (streak) profiling, and inter-event gap histograms — the
product-analytics layer above the funnel/retention/attribution
queries. Every query collapses the stream with ONE user-keyed shuffle
(windows and aggs share the user_id partitioning), then works over
user- or bucket-cardinality tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df
from sparrow_spark.streaming.constants import SESSION_GAP_SECONDS


@query(
    "q_rfm_segmentation",
    oracle="""
    WITH anchor AS (
      SELECT max(ts) AS t_max FROM events
    ), per_user AS (
      SELECT user_id,
             date_diff('second', max(ts), (SELECT t_max FROM anchor))
               AS recency_s,
             count(*) AS frequency,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN value END), 0) AS monetary
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT user_id, monetary,
             ntile(5) OVER (ORDER BY recency_s ASC, user_id) AS r,
             ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f,
             ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM per_user
    )
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(monetary), 2) AS avg_monetary
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each user scored into recency / frequency /
    monetary quintiles (1 = best on every axis: most recent, most
    active, highest spend), then the segment grid summarized — the
    classic marketing-analytics cube that churn-risk and win-back
    campaigns read from. ntile ties break on user_id so quintile
    assignment is deterministic on both engines.

    Scale: one user-keyed agg bounds everything to user cardinality;
    each quintile axis is an EXACT distributed ntile (``global_ntile``:
    range-partitioned two-phase global ranks + broadcast tile
    arithmetic — no single-task global window; DESC axes pass a
    negated key, exact for BIGINT counts and the summed DOUBLE). The
    per-user aggregate is PINNED once (localCheckpoint) so the three
    axis pipelines and the final join all read the user-cardinality
    table instead of re-running the events aggregation four times,
    and the shared row count N feeds all three tile computations. The
    three axis tables re-join on user_id, sharing one hash
    partitioning."""
    from sparrow_spark.operators.dedup import global_ntile

    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("t_max"))
    per_user = (
        ev.crossJoin(anchor)
        .groupBy("user_id")
        .agg(
            (
                F.max(F.col("t_max").cast("long"))
                - F.max(F.col("ts").cast("long"))
            ).alias("recency_s"),
            F.count(F.lit(1)).alias("frequency"),
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ),
                F.lit(0.0),
            ).alias("monetary"),
        )
        .withColumn("neg_frequency", -F.col("frequency"))
        .withColumn("neg_monetary", -F.col("monetary"))
        .localCheckpoint(eager=True)
    )
    total = per_user.agg(F.count(F.lit(1)).alias("_N"))
    r_t = global_ntile(
        per_user.select("user_id", "recency_s"),
        5,
        ["recency_s", "user_id"],
        "r",
        total=total,
    ).select("user_id", "r")
    f_t = global_ntile(
        per_user.select("user_id", "neg_frequency"),
        5,
        ["neg_frequency", "user_id"],
        "f",
        total=total,
    ).select("user_id", "f")
    m_t = global_ntile(
        per_user.select("user_id", "neg_monetary"),
        5,
        ["neg_monetary", "user_id"],
        "m",
        total=total,
    ).select("user_id", "m")
    scored = (
        per_user.select("user_id", "monetary")
        .join(r_t, "user_id")
        .join(f_t, "user_id")
        .join(m_t, "user_id")
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            rnd(F.avg("monetary"), 2).alias("avg_monetary"),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "q_event_streak",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS island
      FROM events
    ), runs AS (
      SELECT user_id, event_type, island, count(*) AS run_len
      FROM seq GROUP BY user_id, event_type, island
    ), per_user AS (
      SELECT user_id, max(run_len) AS max_streak FROM runs
      GROUP BY user_id
    )
    SELECT max_streak, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user
    GROUP BY max_streak
    ORDER BY max_streak
    """,
)
def q_event_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-event-type streak per user (gaps-and-islands
    run-length encoding: the difference of a global and a per-type
    row_number is constant within a run), rolled up into a
    max-streak histogram — repetitive-burst profiling, the behavioral
    twin of the corpus's Gopher repetition fractions (a user stuck on
    'error' 9 times in a row is a signal, exactly like a doc
    repeating one 3-gram).

    Scale: both row_numbers and the run/user rollups share the
    user_id partitioning — one shuffle of the stream, then
    user-bounded tables; the histogram is streak-cardinality rows."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    runs = seq.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("run_len").alias("max_streak")
    )
    return (
        per_user.groupBy("max_streak")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("max_streak")
    )


@query(
    "q_gap_histogram",
    oracle="""
    WITH gaps AS (
      SELECT date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events
    ), bucketed AS (
      SELECT CAST(floor(log2(gap_s + 1)) AS BIGINT) AS bucket, gap_s
      FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-event gap histogram per user ordering — the
    empirical basis for choosing the 30-minute sessionization gap
    (the histogram's bimodal valley IS the right gap) and the
    watermark lateness bound. Bucket = floor(log2(gap_seconds + 1)).

    Scale: one user-keyed shuffle for the lag window, then a
    map-side bucket computation and a bucket-cardinality agg (~40
    buckets span a year in seconds)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias(
            "gap_s"
        )
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.select(
            F.floor(F.log2(F.col("gap_s") + 1)).cast("bigint").alias("bucket"),
            "gap_s",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("bucket")
    )


@query(
    "q_growth_accounting",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ), first_wk AS (
      SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id
    ), labeled AS (
      SELECT k.user_id, k.w,
             CASE WHEN k.w = f.fw THEN 'new'
                  WHEN p.user_id IS NOT NULL THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM wk k
      JOIN first_wk f ON f.user_id = k.user_id
      LEFT JOIN wk p ON p.user_id = k.user_id
                    AND p.w = k.w - INTERVAL 7 DAY
    ), churn AS (
      SELECT p.user_id, p.w + INTERVAL 7 DAY AS w, 'churned' AS status
      FROM wk p
      LEFT JOIN wk k ON k.user_id = p.user_id
                    AND k.w = p.w + INTERVAL 7 DAY
      WHERE k.user_id IS NULL
        AND p.w + INTERVAL 7 DAY <= (SELECT max(w) FROM wk)
    )
    SELECT strftime(w, '%Y-%m-%d') AS week, status,
           CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id, w, status FROM labeled
          UNION ALL SELECT user_id, w, status FROM churn)
    GROUP BY w, status
    ORDER BY week, status
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified as new
    (first week), retained (also active the prior week), or
    resurrected (active before, but not last week), plus churned
    counts attributed to the week AFTER the last active one — the
    new + retained + resurrected - churned identity that net-growth
    dashboards decompose MAU movement with.

    Scale: the event stream collapses to distinct (user, week) in one
    agg; first-week and the prior/next-week probes are self-joins on
    the user-week table, all sharing user_id keying; output is
    weeks x 4 rows."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    first_wk = wk.groupBy("user_id").agg(F.min("w").alias("fw"))
    prev = wk.select(
        F.col("user_id").alias("p_uid"), F.col("w").alias("pw")
    )
    labeled = (
        wk.join(first_wk, "user_id")
        .join(
            prev,
            (F.col("p_uid") == F.col("user_id"))
            & (F.col("pw") == F.col("w") - F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .select(
            "user_id",
            "w",
            F.when(F.col("w") == F.col("fw"), "new")
            .when(F.col("pw").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    max_w = wk.agg(F.max("w").alias("mw"))
    nxt = wk.select(
        F.col("user_id").alias("n_uid"), F.col("w").alias("nw")
    )
    churn = (
        wk.join(
            nxt,
            (F.col("n_uid") == F.col("user_id"))
            & (F.col("nw") == F.col("w") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .filter(F.col("nw").isNull())
        .crossJoin(max_w)
        .filter(F.col("w") + F.expr("INTERVAL 7 DAY") <= F.col("mw"))
        .select(
            "user_id",
            (F.col("w") + F.expr("INTERVAL 7 DAY")).alias("w"),
            F.lit("churned").alias("status"),
        )
    )
    return (
        labeled.unionByName(churn)
        .groupBy("w", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.date_format("w", "yyyy-MM-dd").alias("week"),
            "status",
            "n_users",
        )
        .orderBy("week", "status")
    )


@query(
    "q_stickiness_dau_mau",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('month', ts) AS m, date_trunc('day', ts) AS d,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    ), monthly AS (
      SELECT date_trunc('month', ts) AS m,
             count(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT strftime(d.m, '%Y-%m') AS month,
           CAST(mo.mau AS BIGINT) AS mau,
           round(avg(d.dau), 2) AS avg_dau,
           round(avg(d.dau) / mo.mau, 4) AS stickiness
    FROM daily d JOIN monthly mo ON d.m = mo.m
    GROUP BY d.m, mo.mau
    ORDER BY month
    """,
)
def q_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: average daily actives over
    monthly actives — the engagement-frequency ratio (30 days of
    daily use → 1.0; one visit a month → ~1/30). Two distinct-count
    aggs joined on month.

    Scale: both distinct-counts shuffle on (period, user) once; the
    join and ratio run over month-cardinality rows. At true scale the
    exact countDistinct becomes approx_count_distinct / HLL partials
    (q_hll_union is the mergeable form)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", "ts").alias("m"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        daily.join(monthly, "m")
        .groupBy("m", "mau")
        .agg(F.avg("dau").alias("avg_dau_raw"))
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            F.col("mau").cast("bigint").alias("mau"),
            rnd("avg_dau_raw", 2).alias("avg_dau"),
            rnd(F.col("avg_dau_raw") / F.col("mau"), 4).alias("stickiness"),
        )
        .orderBy("month")
    )


@query(
    "q_watermark_lateness_audit",
    oracle="""
    WITH arr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS frontier
      FROM events
    ), lateness AS (
      SELECT date_diff('second', ts, frontier) AS late_s FROM arr
    ), wm AS (
      SELECT unnest([60, 600, 1800, 3600, 21600]) AS watermark_s
    )
    SELECT w.watermark_s,
           CAST(sum(CASE WHEN l.late_s > w.watermark_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           round(sum(CASE WHEN l.late_s > w.watermark_s
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS drop_frac
    FROM wm w CROSS JOIN lateness l
    GROUP BY w.watermark_s
    ORDER BY w.watermark_s
    """,
)
def q_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit: replay the stream in arrival order
    (event_id), track the event-time frontier (running max ts), and
    for candidate watermark delays count how many events would arrive
    LATER than the allowed lateness and be dropped by a watermarked
    streaming aggregation — the empirical basis for choosing
    withWatermark's delay (pair with q_gap_histogram, which sizes the
    session gap).

    Scale: the arrival-ordered frontier runs as an EXACT distributed
    running max (``global_running_max``: range-partition on event_id,
    local running max, broadcast predecessor maxima — max is
    order-insensitive so the two-phase fold is bit-exact; at true
    scale arrival order is per-partition Kafka offset order, making
    the frontier per-partition exactly like Spark's own watermark),
    then a map-side lateness projection and a 5-row candidate-grid
    agg via a broadcast cross join."""
    from sparrow_spark.operators.dedup import global_running_max

    ev = load_table(spark, sf_dir, "events")
    lateness = global_running_max(
        ev.select("event_id", F.col("ts").cast("long").alias("ts_l")),
        ["event_id"],
        "ts_l",
        "frontier",
    ).select((F.col("frontier") - F.col("ts_l")).alias("late_s"))
    wm = local_df(
        spark, [(60,), (600,), (1800,), (3600,), (21600,)], "watermark_s bigint"
    )
    dropped = F.sum(
        F.when(F.col("late_s") > F.col("watermark_s"), 1).otherwise(0)
    )
    return (
        lateness.crossJoin(wm)
        .groupBy("watermark_s")
        .agg(
            dropped.cast("bigint").alias("n_dropped"),
            rnd(dropped / F.count(F.lit(1)).cast("double"), 6).alias(
                "drop_frac"
            ),
        )
        .orderBy("watermark_s")
    )


@query(
    "q_audience_overlap",
    oracle="""
    WITH aud AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM aud
      GROUP BY event_type
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_overlap
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_overlap,
           round(i.n_overlap
                 / CAST(sa.n + sb.n - i.n_overlap AS DOUBLE), 4)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users do both, and the Jaccard of the two audiences — the
    segment-overlap question behind campaign targeting and feature
    cross-adoption ('do purchasers also file errors?').

    Scale: audiences dedup in one (type, user) agg; the pair
    intersection is a user-keyed self-join whose fan-out per user is
    |types touched|^2 (bounded by the type cardinality, ~5 — NOT a
    user^2 blowup); at sketch scale the exact intersection becomes
    HLL unions (q_hll_union is the mergeable half)."""
    ev = load_table(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_overlap",
            rnd(
                F.col("n_overlap")
                / (F.col("n_a") + F.col("n_b") - F.col("n_overlap")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_kaplan_meier",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts) AS first_ev, max(ts) AS last_ev
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT user_id, min(ts) AS first_big
      FROM events WHERE event_type = 'purchase' AND value > 150
      GROUP BY user_id
    ), subjects AS (
      SELECT u.user_id,
             CASE WHEN c.first_big IS NOT NULL
                  THEN date_diff('day', u.first_ev, c.first_big)
                  ELSE date_diff('day', u.first_ev, u.last_ev)
             END AS duration_days,
             c.first_big IS NOT NULL AS converted
      FROM u LEFT JOIN conv c ON c.user_id = u.user_id
    ), tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_total FROM subjects
    ), by_t AS (
      SELECT duration_days,
             CAST(count(*) AS DOUBLE) AS cnt_all,
             CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE)
               AS d
      FROM subjects GROUP BY duration_days
    ), risk AS (
      SELECT duration_days, d,
             n_total - sum(cnt_all) OVER (ORDER BY duration_days)
               + cnt_all AS n_at_risk
      FROM by_t, tot
    ), km AS (
      SELECT duration_days, d, n_at_risk,
             exp(sum(ln(greatest(1 - d / n_at_risk, 1e-12)))
                 OVER (ORDER BY duration_days)) AS s
      FROM risk
    )
    SELECT CAST(duration_days AS BIGINT) AS duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_converted,
           round(s, 6) AS survival
    FROM km
    WHERE d > 0
    ORDER BY duration_days
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve: the event is a user's
    first LARGE purchase (value > 150), measured in days from their
    first activity; users who never convert are right-CENSORED at
    their last observed event — they leave the risk set without
    counting as conversions, the correction that makes KM the
    standard over a naive conversion-lag histogram (which silently
    treats never-converters as nonexistent). S(t) multiplies
    (1 - d_t/n_t) over event times, computed as exp of a running
    log-sum in one window pass (ln guarded at 1e-12: Spark's log(0)
    is NULL while DuckDB's is -inf).

    Scale: two user-keyed aggs joined on user_id, then every KM
    quantity lives on the distinct-duration table (bounded by the
    observation window in days); both cumulations use the two-phase
    range-partitioned running sum (global_running_sums) so no
    single-task Window.orderBy survives in the plan."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ev"), F.max("ts").alias("last_ev")
    )
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_big"))
    )
    subjects = u.join(conv, "user_id", "left").select(
        F.when(
            F.col("first_big").isNotNull(),
            F.datediff("first_big", "first_ev"),
        )
        .otherwise(F.datediff("last_ev", "first_ev"))
        .alias("duration_days"),
        F.col("first_big").isNotNull().alias("converted"),
    )
    tot = subjects.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    by_t = subjects.groupBy("duration_days").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_all"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("double")
        .alias("d"),
    )
    from sparrow_spark.operators.dedup import global_running_sums

    risk = (
        global_running_sums(by_t, ["duration_days"], ["cnt_all"])
        .crossJoin(tot)
        .select(
            "duration_days",
            "d",
            (
                F.col("n_total") - F.col("cum_cnt_all") + F.col("cnt_all")
            ).alias("n_at_risk"),
        )
    )
    logged = risk.withColumn(
        "logterm",
        F.log(F.greatest(1 - F.col("d") / F.col("n_at_risk"), F.lit(1e-12))),
    )
    return (
        global_running_sums(logged, ["duration_days"], ["logterm"])
        .withColumn("s", F.exp(F.col("cum_logterm")))
        .filter(F.col("d") > 0)
        .select(
            F.col("duration_days").cast("bigint").alias("duration_days"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("d").cast("bigint").alias("n_converted"),
            rnd("s", 6).alias("survival"),
        )
        .orderBy("duration_days")
    )


@query(
    "q_top_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3
      GROUP BY user_id
    ), counts AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM paths
      GROUP BY path
    )
    SELECT path, n_users
    FROM (
      SELECT *, row_number() OVER (ORDER BY n_users DESC, path) AS rk
      FROM counts
    ) WHERE rk <= 10
    ORDER BY n_users DESC, path
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: each user's first three events as an
    ordered 'a>b>c' path, ranked by user count — the Sankey/first-mile
    analysis that shows HOW users actually enter the product
    (q_markov_transitions gives global pair rates; this keeps the
    sequence).

    Scale: the rank and path aggregation share one user-keyed
    shuffle; path cardinality is |types|^3-bounded, so the top-k rank
    is over a tiny table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = (
        ranked.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "event_type"))
            ).alias("steps")
        )
        .select(
            F.concat_ws(
                ">", F.expr("transform(steps, s -> s.event_type)")
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rk = F.row_number().over(Window.orderBy(F.desc("n_users"), "path"))
    return (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select("path", "n_users")
        .orderBy(F.desc("n_users"), "path")
    )


@query(
    "q_peak_concurrency",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts)
                          > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    ), bounds AS (
      SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      FROM sessions GROUP BY user_id, session_id
    ), deltas AS (
      SELECT s AS t, 1 AS delta, user_id, session_id FROM bounds
      UNION ALL
      SELECT e AS t, -1 AS delta, user_id, session_id FROM bounds
    ), sweep AS (
      SELECT t, delta,
             sum(delta) OVER (ORDER BY t, delta, user_id, session_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS concurrent
      FROM deltas
    ), peak AS (
      SELECT max(concurrent) AS peak FROM sweep
    )
    SELECT CAST(p.peak AS BIGINT) AS peak_concurrent,
           strftime(min(s.t), '%Y-%m-%d %H:%M:%S') AS first_peak_at,
           (SELECT CAST(count(*) AS BIGINT) FROM bounds) AS n_sessions
    FROM sweep s, peak p
    WHERE s.concurrent = p.peak
    GROUP BY p.peak
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions via the interval sweep: every
    30-minute-gap session contributes +1 at its start and -1 at its
    end; the running sum over the time-ordered deltas is the live
    concurrency, and its max (with the first time it is reached) is
    the capacity-planning number. Ends sort before starts at the same
    instant (delta asc), so a session ending exactly when another
    starts does not inflate the peak.

    Scale: sessionization shuffles once on user_id; the sweep (2 rows
    PER SESSION, not per event) runs as an EXACT distributed running
    sum (``global_running_sums``: range-partition on the sweep order,
    local cumsum per partition, broadcast per-partition predecessor
    totals — no single-task global window; (t, delta, user_id,
    session_id) is a strict total order because a session's start and
    end rows differ in delta even when s == e)."""
    from sparrow_spark.operators.dedup import global_running_sums

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun)
    )
    bounds = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = bounds.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "session_id"
    ).unionByName(
        bounds.select(
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_id",
        )
    )
    sweep = global_running_sums(
        deltas, ["t", "delta", "user_id", "session_id"], ["delta"]
    ).select("t", F.col("cum_delta").alias("concurrent"))
    peak = sweep.agg(F.max("concurrent").alias("peak"))
    n_sessions = bounds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    return (
        sweep.crossJoin(peak)
        .filter(F.col("concurrent") == F.col("peak"))
        .groupBy("peak")
        .agg(
            F.date_format(F.min("t"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_peak_at"
            )
        )
        .crossJoin(n_sessions)
        .select(
            F.col("peak").cast("bigint").alias("peak_concurrent"),
            "first_peak_at",
            "n_sessions",
        )
    )


@query(
    "q_contribution_cap",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped,
           round(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS capped_frac
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_contribution_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution capping: keep each user's first 20 events
    (arrival order) and count what the cap would discard per type —
    the anti-domination guard a training pipeline applies so prolific
    users (or crawl hosts, mapping user->domain) can't swamp the
    distribution; the same shape caps per-domain documents in a web
    corpus.

    Scale: one user-keyed rank window + a type-keyed rollup — the
    rank shares the user partitioning; nothing global."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "event_type", F.row_number().over(w).alias("rn")
    )
    capped = F.sum(F.when(F.col("rn") > 20, 1).otherwise(0))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("rn") <= 20, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            capped.cast("bigint").alias("n_capped"),
            rnd(capped / F.count(F.lit(1)).cast("double"), 4).alias(
                "capped_frac"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_session_entry_exit",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts)
                          > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    ), ranked AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts DESC, event_id DESC)
               AS rn_last
      FROM sessions
    ), pairs AS (
      SELECT f.user_id, f.session_id,
             f.event_type AS entry_type, l.event_type AS exit_type
      FROM (SELECT * FROM ranked WHERE rn_first = 1) f
      JOIN (SELECT * FROM ranked WHERE rn_last = 1) l
        ON f.user_id = l.user_id AND f.session_id = l.session_id
    )
    SELECT entry_type, exit_type,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM pairs
    GROUP BY entry_type, exit_type
    ORDER BY entry_type, exit_type
    """,
)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit matrix: how sessions start vs how they end
    (first and last event type per 30-minute-gap session) — the
    landing/abandonment view ('sessions that start with an error and
    end with an error' is a reliability smell; 'enter view, exit
    purchase' is the happy path).

    Scale: sessionization and both first/last ranks share ONE
    user-keyed shuffle (min/max_by per session at scale instead of
    two rank windows); the matrix is |types|^2 rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sessions = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS), 1).otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(wrun))
    pairs = sessions.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias(
            "entry_type"
        ),
        F.max_by("event_type", F.struct("ts", "event_id")).alias(
            "exit_type"
        ),
    )
    return (
        pairs.groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy("entry_type", "exit_type")
    )


@query(
    "q_decay_popularity",
    oracle="""
    WITH anchor AS (
      SELECT max(ts) AS t_max FROM events
    ), scored AS (
      SELECT l.l_partkey,
             l.l_extendedprice * (1 - l.l_discount)
               * exp(-0.05 * date_diff('day', l.l_shipdate,
                                       TIMESTAMP '2002-01-01'))
               AS decayed
      FROM lineitem l
    )
    SELECT l_partkey,
           round(sum(decayed), 4) AS decay_score,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM scored
    GROUP BY l_partkey
    ORDER BY decay_score DESC, l_partkey
    LIMIT 20
    """,
)
def q_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay popularity: each line item's revenue is
    discounted by exp(-lambda * age_days) against a fixed horizon
    (lambda=0.05/day — a two-week half-life), summed per part and
    top-20 ranked — the freshness-aware trending score (Reddit/HN
    style) that a plain revenue rank can't produce because old volume
    never stops dominating it.

    Scale: the decay weight is per-row arithmetic at scan time; one
    part-keyed agg; top-k is TakeOrderedAndProject. The decayed sum
    is also maintainable incrementally: scores age by a constant
    multiplicative factor per day, so yesterday's aggregate times
    exp(-lambda) plus today's partial is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    horizon = F.lit("2002-01-01").cast("timestamp")
    decayed = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * F.exp(-0.05 * F.datediff(horizon, F.col("l_shipdate")))
    )
    return (
        li.select("l_partkey", decayed.alias("decayed"))
        .groupBy("l_partkey")
        .agg(
            rnd(F.sum("decayed"), 4).alias("decay_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy(F.desc("decay_score"), "l_partkey")
        .limit(20)
    )


@query(
    "q_wow_change",
    oracle="""
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS wk,
             sum(value) AS v
      FROM events GROUP BY event_type, date_trunc('week', ts)
    )
    SELECT event_type, strftime(wk, '%Y-%m-%d') AS week,
           round(v, 2) AS value_sum,
           round(100 * (v - lag(v) OVER (PARTITION BY event_type
                                         ORDER BY wk))
                 / lag(v) OVER (PARTITION BY event_type ORDER BY wk),
                 2) AS wow_pct_change
    FROM weekly
    ORDER BY event_type, week
    """,
)
def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week percentage change per event type — the
    growth-dashboard staple (NULL on each type's first week, exactly
    as the lag window defines it).

    Scale: the stream collapses to (type, week) first; the lag window
    runs over that bounded grid."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("v").over(w)
    return weekly.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        rnd("v", 2).alias("value_sum"),
        rnd(100 * (F.col("v") - prev) / prev, 2).alias("wow_pct_change"),
    ).orderBy("event_type", "week")


@query(
    "q_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY dayofweek(ts), hour(ts)
    ORDER BY dow, hr
    """,
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap — the 2D seasonal
    profile (168 cells) behind staffing, maintenance-window, and
    anomaly-baseline decisions (q_seasonal_anomaly flags against the
    hour-only profile; this is the full weekly texture). DuckDB's
    dayofweek is 0=Sunday..6 while Spark's dayofweek is 1=Sunday..7,
    so the Spark side subtracts one to agree.

    Scale: map-side bucket arithmetic + one 168-key agg."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "q_coverage_gaps",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ), grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(
                    (SELECT h0 FROM bounds), (SELECT h1 FROM bounds),
                    INTERVAL 1 HOUR)) AS h) g
    ), observed AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events
    ), missing AS (
      SELECT g.event_type, g.h,
             row_number() OVER (PARTITION BY g.event_type ORDER BY g.h)
               AS rn,
             date_diff('hour', (SELECT h0 FROM bounds), g.h) AS idx
      FROM grid g
      LEFT JOIN observed o
        ON o.event_type = g.event_type AND o.h = g.h
      WHERE o.h IS NULL
    ), runs AS (
      SELECT event_type, idx - rn AS island, count(*) AS run_len
      FROM missing GROUP BY event_type, idx - rn
    )
    SELECT t.event_type,
           (SELECT CAST(date_diff('hour', h0, h1) + 1 AS BIGINT)
            FROM bounds) AS n_expected_hours,
           CAST(coalesce(sum(r.run_len), 0) AS BIGINT) AS n_missing_hours,
           CAST(coalesce(max(r.run_len), 0) AS BIGINT) AS longest_gap_hours
    FROM (SELECT DISTINCT event_type FROM events) t
    LEFT JOIN runs r ON r.event_type = t.event_type
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
)
def q_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness coverage audit: for each event type, how many
    hours of the observation window produced NO events, and the
    longest consecutive silent run — the ingestion-outage detector
    (a 6-hour silent run on 'purchase' is an incident, not a quiet
    afternoon) that pairs with q_watermark_lateness_audit on the
    pipeline-health dashboard. Missing-hour runs come from the
    gaps-and-islands trick on the dense hour grid.

    Scale: the grid is |types| x |hours| rows generated from one-row
    bounds (sequence + explode, no data shuffle); observed hours are
    one keyed distinct; the anti-join and islands run on the bounded
    grid."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(bounds)
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")
            ).alias("h"),
            "h0",
        )
    )
    observed = ev.select(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    missing = (
        grid.join(observed, ["event_type", "h"], "left_anti")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .withColumn(
            "idx",
            (
                (F.col("h").cast("long") - F.col("h0").cast("long")) / 3600
            ).cast("long"),
        )
    )
    runs = missing.groupBy(
        "event_type", (F.col("idx") - F.col("rn")).alias("island")
    ).agg(F.count(F.lit(1)).alias("run_len"))
    expected = bounds.select(
        (
            (F.col("h1").cast("long") - F.col("h0").cast("long")) / 3600 + 1
        ).cast("bigint").alias("n_expected_hours")
    )
    return (
        types.join(
            runs.groupBy("event_type").agg(
                F.sum("run_len").cast("bigint").alias("n_missing_hours"),
                F.max("run_len").cast("bigint").alias("longest_gap_hours"),
            ),
            "event_type",
            "left",
        )
        .crossJoin(expected)
        .select(
            "event_type",
            "n_expected_hours",
            F.coalesce("n_missing_hours", F.lit(0)).alias("n_missing_hours"),
            F.coalesce("longest_gap_hours", F.lit(0)).alias(
                "longest_gap_hours"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_rolling_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    )
    SELECT strftime(t.d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau_28d
    FROM days t
    JOIN du u ON u.d <= t.d AND u.d > t.d - INTERVAL 28 DAY
    GROUP BY t.d
    ORDER BY day
    """,
)
def q_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-day active users per day — the MAU-by-day trendline
    (distinct users active in the trailing 28 days, recomputed for
    every day) that DAU/MAU stickiness and growth accounting both
    reference. Rolling DISTINCT does not decompose into a window
    aggregate, so the plan joins the (day, user) distinct table to
    the bounded day list over the 28-day band.

    Scale: the expensive exact form is (days x window x users)-
    bounded after the first distinct; the production form replaces
    the inner distinct-count with mergeable HLL sketches unioned over
    the trailing window (q_hll_union is that primitive)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("t_d"))
    return (
        days
        .join(
            du,
            (du.d <= F.col("t_d"))
            & (du.d > F.col("t_d") - F.expr("INTERVAL 28 DAY")),
        )
        .groupBy("t_d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau_28d"))
        .select(
            F.date_format("t_d", "yyyy-MM-dd").alias("day"), "mau_28d"
        )
        .orderBy("day")
    )


@query(
    "q_retention_halflife",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ), first_wk AS (
      SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id
    ), cohort_n AS (
      SELECT fw, CAST(count(*) AS DOUBLE) AS n0 FROM first_wk GROUP BY fw
    ), active AS (
      SELECT f.fw, date_diff('week', f.fw, k.w) AS offset_wk,
             CAST(count(DISTINCT k.user_id) AS DOUBLE) AS n_active
      FROM wk k JOIN first_wk f ON f.user_id = k.user_id
      GROUP BY f.fw, date_diff('week', f.fw, k.w)
    ), rates AS (
      SELECT a.offset_wk, avg(a.n_active / c.n0) AS rate
      FROM active a JOIN cohort_n c ON c.fw = a.fw
      WHERE a.offset_wk >= 1
      GROUP BY a.offset_wk
    ), fit AS (
      SELECT regr_slope(ln(rate), offset_wk) AS slope,
             regr_intercept(ln(rate), offset_wk) AS intercept,
             CAST(count(*) AS BIGINT) AS n_points
      FROM rates WHERE rate > 0
    )
    SELECT n_points,
           round(slope, 6) AS log_slope,
           round(exp(intercept), 6) AS week1_level,
           round(CASE WHEN slope < 0 THEN -ln(2) / slope END, 4)
             AS half_life_weeks
    FROM fit
    """,
)
def q_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: average week-k retention rates
    (across cohorts) regressed as ln(rate) ~ k, giving the weekly
    decay slope and the retention HALF-LIFE (-ln2/slope) — the single
    number that compresses q_retention_cohorts' matrix into 'how many
    weeks until half the cohort is gone', the metric LTV projections
    discount by. NULL half-life when the slope isn't negative (no
    decay to fit).

    Scale: cohort rates live on the (cohort, offset) grid; the fit is
    one regr_slope/intercept aggregate over offset-cardinality
    rows."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    first_wk = wk.groupBy("user_id").agg(F.min("w").alias("fw"))
    cohort_n = first_wk.groupBy("fw").agg(
        F.count(F.lit(1)).cast("double").alias("n0")
    )
    active = (
        wk.join(first_wk, "user_id")
        .groupBy(
            "fw",
            (
                F.datediff(F.date_trunc("week", "w"), F.col("fw")) / 7
            ).cast("bigint").alias("offset_wk"),
        )
        .agg(F.countDistinct("user_id").cast("double").alias("n_active"))
    )
    rates = (
        active.join(cohort_n, "fw")
        .filter(F.col("offset_wk") >= 1)
        .groupBy("offset_wk")
        .agg(F.avg(F.col("n_active") / F.col("n0")).alias("rate"))
        .filter(F.col("rate") > 0)
    )
    fit = rates.agg(
        F.expr("regr_slope(ln(rate), offset_wk)").alias("slope"),
        F.expr("regr_intercept(ln(rate), offset_wk)").alias("intercept"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
    )
    return fit.select(
        "n_points",
        rnd("slope", 6).alias("log_slope"),
        rnd(F.exp("intercept"), 6).alias("week1_level"),
        rnd(
            F.when(F.col("slope") < 0, -F.log(F.lit(2.0)) / F.col("slope")),
            4,
        ).alias("half_life_weeks"),
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution (r9). Last-touch
# (q_attribution_last_touch) gives the final click all credit; the
# position-based model splits each purchase's value 40% to the FIRST
# touch, 40% to the LAST, and the middle 20% evenly across interior
# touches (1 touch -> 100%, 2 -> 50/50) — the standard BI compromise
# between first- and last-touch bias.
# --------------------------------------------------------------------------
ATTR_WINDOW_DAYS = 7


@query(
    "q_attribution_position",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts, value FROM events
      WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, event_id AS tid, ts AS tts, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ), touches AS (
      SELECT p.pid, p.value, t.channel,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY t.tts, t.tid) AS pos,
             count(*) OVER (PARTITION BY p.pid) AS n_touch
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.tts <= p.pts
       AND t.tts >= p.pts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    ), credited AS (
      SELECT channel,
             value * (CASE
               WHEN n_touch = 1 THEN 1.0
               WHEN n_touch = 2 THEN 0.5
               WHEN pos = 1 OR pos = n_touch THEN 0.4
               ELSE 0.2 / (n_touch - 2)
             END) AS credit
      FROM touches
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credited_touches,
           round(sum(credit), 2) AS credited_value
    FROM credited GROUP BY channel ORDER BY channel
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: every click/view in the 7
    days before a purchase shares that purchase's value — 40% to the
    first touch, 40% to the last, 20% split across the middle
    (degenerating to 100% / 50-50 for 1- or 2-touch paths). Emits
    credited value per channel, the report a marketing-mix model
    consumes.

    Scale: the touch join is user-keyed (purchases x touches
    co-partition on user_id; the 7-day predicate prunes the pair
    range), and the position window partitions BY PURCHASE — state
    bounded by one path's touches, never a user's full history.
    Credit math is map-side; one final channel agg."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    joined = p.join(
        t,
        (p.user_id == t.user_id)
        & (t.tts <= p.pts)
        & (t.tts >= p.pts - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")),
    )
    w = Window.partitionBy("pid").orderBy("tts", "tid")
    wn = Window.partitionBy("pid")
    touches = joined.select(
        "pid",
        "value",
        "channel",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n_touch"),
    )
    credit = F.col("value") * (
        F.when(F.col("n_touch") == 1, 1.0)
        .when(F.col("n_touch") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n_touch")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n_touch") - 2))
    )
    return (
        touches.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credited_touches"),
            rnd(F.sum("credit"), 2).alias("credited_value"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Max-gap windowed funnel (r9). q_event_funnel counts unordered
# lifetime step reach; real activation funnels require each step
# within a bounded gap of the previous one. Greedy-anchor semantics
# (earliest view, then earliest qualifying click after it, then
# earliest qualifying purchase) — deterministic and identically
# expressible in both engines.
# --------------------------------------------------------------------------
FUNNEL_GAP_HOURS = 24


@query(
    "q_funnel_windowed",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT v.user_id, v.vts, min(e.ts) AS cts
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.vts
       AND e.ts <= v.vts + INTERVAL {FUNNEL_GAP_HOURS} HOUR
      GROUP BY v.user_id, v.vts
    ), pu AS (
      SELECT c.user_id, min(e.ts) AS pts
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.cts
       AND e.ts <= c.cts + INTERVAL {FUNNEL_GAP_HOURS} HOUR
      GROUP BY c.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS step_name,
             CAST(count(*) AS BIGINT) AS n_users,
             round(1.0, 4) AS conversion_from_prev
      FROM v
      UNION ALL
      SELECT 2, 'click', CAST(count(*) AS BIGINT),
             round(CAST((SELECT count(*) FROM c) AS DOUBLE)
                   / (SELECT count(*) FROM v), 4)
      FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
             round(CAST((SELECT count(*) FROM pu) AS DOUBLE)
                   / (SELECT count(*) FROM c), 4)
      FROM pu
    ) ORDER BY step
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded strict funnel view -> click -> purchase with a
    24-hour max gap between consecutive steps, greedy-anchored at
    each user's FIRST view (then first qualifying click, then first
    qualifying purchase). Emits per-step user counts and step-over-
    step conversion — the windowed variant that q_event_funnel's
    lifetime-reach semantics cannot express.

    Scale: three user-keyed aggs chained by user-keyed joins (each
    join's probe side is the shrinking survivor set); no windows, no
    per-user history state beyond one timestamp per stage."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.expr(f"INTERVAL {FUNNEL_GAP_HOURS} HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts0")
    )
    c = (
        v.join(clicks, "user_id")
        .filter((F.col("cts0") > F.col("vts")) & (F.col("cts0") <= F.col("vts") + gap))
        .groupBy("user_id", "vts")
        .agg(F.min("cts0").alias("cts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts0")
    )
    pu = (
        c.join(purchases, "user_id")
        .filter((F.col("pts0") > F.col("cts")) & (F.col("pts0") <= F.col("cts") + gap))
        .groupBy("user_id")
        .agg(F.min("pts0").alias("pts"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    nc = c.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    np_ = pu.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    s1 = nv.select(
        F.lit(1).alias("step"), F.lit("view").alias("step_name"),
        F.col("n").cast("bigint").alias("n_users"),
        rnd(F.lit(1.0), 4).alias("conversion_from_prev"),
    )
    s2 = nc.crossJoin(nv.select(F.col("n").alias("prev"))).select(
        F.lit(2).alias("step"), F.lit("click").alias("step_name"),
        F.col("n").cast("bigint").alias("n_users"),
        rnd(F.col("n") / F.col("prev"), 4).alias("conversion_from_prev"),
    )
    s3 = np_.crossJoin(nc.select(F.col("n").alias("prev"))).select(
        F.lit(3).alias("step"), F.lit("purchase").alias("step_name"),
        F.col("n").cast("bigint").alias("n_users"),
        rnd(F.col("n") / F.col("prev"), 4).alias("conversion_from_prev"),
    )
    return s1.unionByName(s2).unionByName(s3).orderBy("step")


# --------------------------------------------------------------------------
# Association rules with confidence/lift (r9). q_frequent_pairs stops
# at pair support; a recommender or store-layout decision needs the
# DIRECTED rule quality — confidence P(B|A) and lift P(B|A)/P(B) —
# because support alone cannot separate "popular everywhere" from
# "predictive". Items are part-category buckets (l_partkey % 100) so
# the rule space is dense enough to rank at sf0.01; all counts are
# exact BIGINTs, the ratios one double division each.
# --------------------------------------------------------------------------
_RULE_MIN_SUPPORT = 5


@query(
    "q_association_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS item FROM lineitem
    ), nt AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ), ni AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n_item
      FROM items GROUP BY item
    ), pair AS (
      SELECT a.item AS antecedent, b.item AS consequent,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           na.n_item AS n_antecedent, nc.n_item AS n_consequent,
           round(CAST(p.n_both AS DOUBLE) / nt.n, 4) AS support,
           round(CAST(p.n_both AS DOUBLE) / na.n_item, 4) AS confidence,
           round(CAST(p.n_both AS DOUBLE) * nt.n
                 / (CAST(na.n_item AS DOUBLE) * nc.n_item), 4) AS lift
    FROM pair p
    JOIN ni na ON na.item = p.antecedent
    JOIN ni nc ON nc.item = p.consequent
    CROSS JOIN nt
    WHERE p.n_both >= {_RULE_MIN_SUPPORT}
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 50
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules A -> B over order baskets of
    part-category items: support, confidence P(B|A), and lift
    (confidence over the consequent's base rate), min pair support
    5, top 50 by lift. Extends q_frequent_pairs' symmetric support
    counts with the directed rule-quality metrics.

    Scale: the basket explosion is bounded by distinct categories
    per order (items-per-basket squared, never fact-rows squared);
    the pair count is one orderkey-keyed shuffle + keyed agg, the
    item marginals broadcast onto the pair list, and the final
    ranking a TakeOrderedAndProject top-k. Lift's tie pattern is
    ratio-of-integers, identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item")
    ).distinct()
    nt = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    ni = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a, b = items.alias("a"), items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("antecedent"),
            F.col("b.item").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= _RULE_MIN_SUPPORT)
    )
    na = ni.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_antecedent")
    )
    nc = ni.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_consequent")
    )
    return (
        pair.join(na, "antecedent")
        .join(nc, "consequent")
        .crossJoin(nt)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            "n_consequent",
            rnd(F.col("n_both").cast("double") / F.col("n"), 4).alias(
                "support"
            ),
            rnd(
                F.col("n_both").cast("double") / F.col("n_antecedent"), 4
            ).alias("confidence"),
            rnd(
                F.col("n_both").cast("double")
                * F.col("n")
                / (
                    F.col("n_antecedent").cast("double")
                    * F.col("n_consequent")
                ),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Shapley-value channel attribution (r9). Last-touch (q_attribution_
# last_touch) and U-shaped (q_attribution_position) are heuristics;
# the Shapley value is the unique credit split satisfying efficiency/
# symmetry/additivity (Shapley 1953), standard in marketing-mix
# attribution. With k=4 channels the 2^4 coalition table is exact and
# tiny: v(S) = converted users whose touched-channel set is a subset
# of S; phi_i = sum over S not containing i of |S|!(k-|S|-1)!/k! *
# (v(S+i) - v(S)). All arithmetic stays in 24ths (k!=24) so the
# credit is an exact BIGINT until one final division.
# --------------------------------------------------------------------------
_SHAPLEY_CHANNELS = [("click", 1), ("view", 2), ("signup", 4), ("error", 8)]


def _popcnt_sql(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN ({col} & {1 << j}) > 0 THEN 1 ELSE 0 END)"
        for j in range(4)
    )


@query(
    "q_shapley_attribution",
    oracle=f"""
    WITH touch AS (
      SELECT DISTINCT user_id,
             CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                  WHEN 'signup' THEN 4 WHEN 'error' THEN 8 END AS bit
      FROM events WHERE event_type <> 'purchase'
    ), um AS (
      SELECT user_id, CAST(sum(bit) AS BIGINT) AS mask
      FROM touch GROUP BY user_id
    ), conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), cm AS (
      SELECT CAST(coalesce(m.mask, 0) AS BIGINT) AS mask,
             CAST(count(*) AS BIGINT) AS c
      FROM conv LEFT JOIN um m USING (user_id) GROUP BY 1
    ), ss AS (SELECT CAST(s AS BIGINT) AS s FROM range(16) t(s)
    ), v AS (
      SELECT ss.s, CAST(coalesce(sum(cm.c), 0) AS BIGINT) AS v
      FROM ss LEFT JOIN cm ON (cm.mask & ss.s) = cm.mask
      GROUP BY ss.s
    ), ch AS (
      SELECT * FROM (VALUES ('click', 1), ('view', 2),
                            ('signup', 4), ('error', 8)) t(channel, bit)
    ), terms AS (
      SELECT ch.channel, CAST(ch.bit AS BIGINT) AS bit,
             (CASE {_popcnt_sql('v0.s')}
                   WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                   ELSE 6 END) * (v1.v - v0.v) AS t24
      FROM ch
      JOIN v v0 ON (v0.s & ch.bit) = 0
      JOIN v v1 ON v1.s = v0.s + ch.bit
    ), span AS (
      SELECT max(CASE WHEN s = 15 THEN v END)
               - max(CASE WHEN s = 0 THEN v END) AS sp
      FROM v
    )
    SELECT t.channel, t.bit,
           CAST(sum(t.t24) AS BIGINT) AS shapley_24,
           round(sum(t.t24) / 24.0, 4) AS shapley,
           round(CAST(sum(t.t24) AS DOUBLE) / (24.0 * sp.sp), 4) AS share
    FROM terms t CROSS JOIN span sp
    GROUP BY t.channel, t.bit, sp.sp
    ORDER BY channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value conversion credit for the four
    non-purchase channels: the coalition function counts converted
    users whose touched-channel set falls inside the coalition, and
    each channel's credit is the factorially-weighted average of its
    marginal contributions over all 8 coalitions excluding it.
    Credit is carried as an exact BIGINT in 24ths (4! = 24) with one
    final division, so both engines agree bit-for-bit; `share`
    normalizes by v(all) - v(none) (the efficiency axiom's span).

    Scale: the per-user channel mask is one keyed agg over the fact
    table; everything after operates on the 16-row coalition table
    and the 4-row channel list — driver-sized regardless of event
    volume, the same collapse-then-enumerate shape as the funnel
    family."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
    )
    um = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", bit.alias("bit"))
        .distinct()
        .groupBy("user_id")
        .agg(F.sum("bit").cast("bigint").alias("mask"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    cm = (
        conv.join(um, "user_id", "left")
        .groupBy(F.coalesce("mask", F.lit(0)).cast("bigint").alias("mask"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ss = spark.range(16).select(F.col("id").cast("bigint").alias("s"))
    v = (
        ss.join(
            cm,
            cm.mask.bitwiseAND(ss.s) == cm.mask,
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("v"))
    )
    ch = local_df(spark, _SHAPLEY_CHANNELS, "channel string, bit long")
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("va"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vb"))
    popcnt = sum(
        F.when(F.col("s0").bitwiseAND(F.lit(1 << j)) > 0, 1).otherwise(0)
        for j in range(4)
    )
    w24 = (
        F.when(popcnt == 0, 6)
        .when(popcnt == 1, 2)
        .when(popcnt == 2, 2)
        .otherwise(6)
    )
    terms = (
        ch.join(F.broadcast(v0), F.col("s0").bitwiseAND(F.col("bit")) == 0)
        .join(F.broadcast(v1), F.col("s1") == F.col("s0") + F.col("bit"))
        .select(
            "channel",
            "bit",
            (w24 * (F.col("vb") - F.col("va"))).cast("bigint").alias("t24"),
        )
    )
    span = v.agg(
        (
            F.max(F.when(F.col("s") == 15, F.col("v")))
            - F.max(F.when(F.col("s") == 0, F.col("v")))
        ).alias("sp")
    )
    return (
        terms.groupBy("channel", "bit")
        .agg(F.sum("t24").cast("bigint").alias("shapley_24"))
        .crossJoin(span)
        .select(
            "channel",
            "bit",
            "shapley_24",
            rnd(F.col("shapley_24") / 24.0, 4).alias("shapley"),
            rnd(
                F.col("shapley_24").cast("double") / (24.0 * F.col("sp")), 4
            ).alias("share"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# UCB1 bandit replay (r9). The ranking surfaces so far are static
# (Wilson lower bound, decayed popularity); an adaptive traffic
# allocator needs the bandit view — per-day UCB1 indices computed by
# replaying the logged event stream (Li et al.'s offline replay
# shape): each arm's cumulative pulls/rewards are exact-integer
# window cumsums per arm over the day series, the index is mean +
# sqrt(2 ln t / n), and the day's winner is the argmax the policy
# WOULD have chosen next. No simulation loop — the feedback-free
# replay is pure window algebra.
# --------------------------------------------------------------------------
@query(
    "q_ucb_replay",
    oracle="""
    WITH pulls AS (
      SELECT date_trunc('day', ts) AS d, event_type AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
    ), cum AS (
      SELECT d, arm,
             sum(n) OVER (PARTITION BY arm ORDER BY d) AS n_a,
             sum(r) OVER (PARTITION BY arm ORDER BY d) AS r_a
      FROM pulls
    ), tot AS (
      SELECT d, arm, n_a, r_a,
             sum(n_a) OVER (PARTITION BY d) AS t_all
      FROM cum
    ), idx AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, arm,
             CAST(r_a AS DOUBLE) / n_a
               + sqrt(2 * ln(CAST(t_all AS DOUBLE)) / n_a) AS ucb,
             CAST(n_a AS BIGINT) AS n_a, CAST(r_a AS BIGINT) AS r_a
      FROM tot
    )
    SELECT day, arm, n_a, r_a, round(ucb, 6) AS ucb,
           arm = first_value(arm) OVER (PARTITION BY day
                                        ORDER BY ucb DESC, arm
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS chosen
    FROM idx ORDER BY day, arm
    """,
)
def q_ucb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 replay over the logged event stream: arms are the four
    non-purchase event types, a pull is an event, the reward is
    value > 100; per day, each arm's cumulative mean plus the
    sqrt(2 ln t / n) exploration bonus, and the arm the policy would
    pull next (argmax, ties to the lexicographically first arm).

    Scale: one keyed (day, arm) agg with map-side combine, then two
    bounded windows over the day-by-arm table — cumulative counts
    stay exact BIGINTs, the index is computed per row, and the
    winner flag is one more window. Nothing sequential: the replay
    is feedback-free, so the whole policy trace is set-oriented."""
    pulls = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "purchase")
        .groupBy(
            F.date_trunc("day", "ts").alias("d"),
            F.col("event_type").alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0))
            .cast("bigint")
            .alias("r"),
        )
    )
    wa = Window.partitionBy("arm").orderBy("d")
    cum = pulls.select(
        "d",
        "arm",
        F.sum("n").over(wa).alias("n_a"),
        F.sum("r").over(wa).alias("r_a"),
    )
    wd = Window.partitionBy("d")
    tot = cum.withColumn("t_all", F.sum("n_a").over(wd))
    ucb = F.col("r_a").cast("double") / F.col("n_a") + F.sqrt(
        2 * F.log(F.col("t_all").cast("double")) / F.col("n_a")
    )
    idx = tot.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "arm",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("r_a").cast("bigint").alias("r_a"),
        ucb.alias("ucb_raw"),
    )
    ww = Window.partitionBy("day").orderBy(
        F.col("ucb_raw").desc(), "arm"
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return idx.select(
        "day",
        "arm",
        "n_a",
        "r_a",
        rnd("ucb_raw", 6).alias("ucb"),
        (F.col("arm") == F.first("arm").over(ww)).alias("chosen"),
    ).orderBy("day", "arm")


# --------------------------------------------------------------------------
# Markov removal-effect attribution (r9). Shapley (q_shapley_
# attribution) credits coalitions of TOUCHED channels; the Markov
# model credits POSITION IN THE JOURNEY: build the first-order chain
# over pre-conversion touch sequences (start -> touches -> conv/null),
# compute the absorption probability of conversion by power
# iteration, then re-run with each channel's edges deleted — the
# removal effect 1 - P_removed/P_full is that channel's credit
# (Anderl et al. 2014, the industry-standard "Markov attribution").
# The 5-state iteration unrolls 10 fixed stages over a ONE-ROW
# matrix table with every arithmetic term in fixed textual order, so
# both engines produce bit-identical floats with no recursion and no
# shuffles after the matrix build.
# --------------------------------------------------------------------------
_MK_STATES = ["start", "click", "view", "signup", "error"]
_MK_RUNS = ["full", "click", "view", "signup", "error"]
_MK_ITERS = 10


def _mk_x_expr(run: str, i: int) -> str:
    """x_{run}_{i}' = m_i_conv + sum_j m_i_j * x_{run}_j, skipping the
    removed channel's row and column. Fixed term order = identical
    floats on both engines."""
    si = _MK_STATES[i - 1]
    if run != "full" and si == run:
        return "0.0"
    terms = [f"m_{i}_6"]
    for j in range(2, 6):
        sj = _MK_STATES[j - 1]
        if run != "full" and sj == run:
            continue
        terms.append(f"m_{i}_{j} * x_{run}_{j}")
    return " + ".join(terms)


def _mk_matrix_cols_sql() -> str:
    cols = []
    for i in range(1, 6):
        for j in range(2, 7):
            tgt = "conv" if j == 6 else _MK_STATES[j - 1]
            cols.append(
                f"coalesce(max(CASE WHEN f = '{_MK_STATES[i - 1]}' AND "
                f"t = '{tgt}' THEN p END), 0.0) AS m_{i}_{j}"
            )
    return ", ".join(cols)


def _mk_iter_sql() -> str:
    stages = []
    keep_m = ", ".join(
        f"m_{i}_{j}" for i in range(1, 6) for j in range(2, 7)
    )
    init = ", ".join(
        f"0.0 AS x_{r}_{i}" for r in _MK_RUNS for i in range(1, 6)
    )
    stages.append(f", it0 AS (SELECT {keep_m}, {init} FROM mat)")
    for t in range(1, _MK_ITERS + 1):
        xs = ", ".join(
            f"{_mk_x_expr(r, i)} AS x_{r}_{i}"
            for r in _MK_RUNS
            for i in range(1, 6)
        )
        stages.append(f", it{t} AS (SELECT {keep_m}, {xs} FROM it{t - 1})")
    return "".join(stages)


def _mk_final_sql() -> str:
    eff = {
        c: f"(1.0 - x_{c}_1 / x_full_1)" for c in _MK_RUNS[1:]
    }
    tot = " + ".join(eff[c] for c in _MK_RUNS[1:])
    rows = []
    for c in _MK_RUNS[1:]:
        rows.append(
            f"SELECT '{c}' AS channel, round(x_full_1, 6) AS p_conv_full, "
            f"round(x_{c}_1, 6) AS p_conv_removed, "
            f"round({eff[c]}, 6) AS removal_effect, "
            f"round({eff[c]} / ({tot}), 6) AS attribution_share "
            f"FROM it{_MK_ITERS}"
        )
    return " UNION ALL ".join(rows)


@query(
    "q_markov_attribution",
    oracle="""
    WITH t0 AS (
      SELECT user_id, min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS conv_ts
      FROM events GROUP BY user_id
    ), touch AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id, t0.conv_ts
      FROM events e JOIN t0 ON t0.user_id = e.user_id
      WHERE e.event_type IN ('click', 'view', 'signup', 'error')
        AND (t0.conv_ts IS NULL OR e.ts < t0.conv_ts)
    ), seq AS (
      SELECT user_id, event_type, conv_ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM touch
    ), raw_edges AS (
      SELECT 'start' AS f, event_type AS t FROM seq WHERE rn = 1
      UNION ALL
      SELECT event_type, nxt FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT event_type,
             CASE WHEN conv_ts IS NOT NULL THEN 'conv' ELSE 'nul' END
      FROM seq WHERE nxt IS NULL
      UNION ALL
      SELECT 'start', 'conv'
      FROM t0 WHERE conv_ts IS NOT NULL AND user_id NOT IN
        (SELECT DISTINCT user_id FROM touch)
    ), cnt AS (
      SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM raw_edges
      GROUP BY 1, 2
    ), tot AS (
      SELECT f, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
    ), prob AS (
      SELECT cnt.f, cnt.t, CAST(cnt.c AS DOUBLE) / tot.n AS p
      FROM cnt JOIN tot USING (f) WHERE cnt.t <> 'nul'
    ), mat AS (
      SELECT """ + _mk_matrix_cols_sql() + """ FROM prob
    )""" + _mk_iter_sql() + " " + _mk_final_sql() + """
    ORDER BY channel
    """,
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over pre-conversion touch
    journeys: P(conversion) from the full first-order chain vs the
    chain with each channel's edges deleted (mass redirected to the
    null absorber); a channel's credit is its removal effect,
    normalized into attribution shares.

    Scale: journey edges are one user-keyed window pass over the
    fact table and collapse to a <= 7x7 count matrix; the absorption
    power iteration runs 10 unrolled stages over a ONE-ROW matrix
    table — pure projections, zero shuffles, whole-stage codegen —
    and every arithmetic term appears in the same textual order in
    the Spark expressions and the DuckDB oracle, so the floats are
    bit-identical without any fold tricks. The one-row matrix and
    the iterated row are localCheckpointed so the four output
    branches reuse them instead of re-deriving the journey scan
    (72 scans -> 1 without it)."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("conv_ts")
    )
    touch = (
        ev.join(t0, "user_id")
        .filter(
            F.col("event_type").isin("click", "view", "signup", "error")
            & (F.col("conv_ts").isNull() | (F.col("ts") < F.col("conv_ts")))
        )
        .select("user_id", "event_type", "ts", "event_id", "conv_ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = touch.select(
        "user_id",
        "event_type",
        "conv_ts",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    edges = (
        seq.filter(F.col("rn") == 1)
        .select(F.lit("start").alias("f"), F.col("event_type").alias("t"))
        .unionByName(
            seq.filter(F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("f"), F.col("nxt").alias("t")
            )
        )
        .unionByName(
            seq.filter(F.col("nxt").isNull()).select(
                F.col("event_type").alias("f"),
                F.when(F.col("conv_ts").isNotNull(), "conv")
                .otherwise("nul")
                .alias("t"),
            )
        )
        .unionByName(
            t0.filter(F.col("conv_ts").isNotNull())
            .join(
                touch.select("user_id").distinct(), "user_id", "left_anti"
            )
            .select(F.lit("start").alias("f"), F.lit("conv").alias("t"))
        )
    )
    cnt = edges.groupBy("f", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("f").agg(F.sum("c").cast("bigint").alias("n"))
    prob = (
        cnt.join(tot, "f")
        .filter(F.col("t") != "nul")
        .select("f", "t", (F.col("c").cast("double") / F.col("n")).alias("p"))
    )
    mat = prob.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("f") == _MK_STATES[i - 1])
                        & (
                            F.col("t")
                            == ("conv" if j == 6 else _MK_STATES[j - 1])
                        ),
                        F.col("p"),
                    )
                ),
                F.lit(0.0),
            ).alias(f"m_{i}_{j}")
            for i in range(1, 6)
            for j in range(2, 7)
        ]
    ).localCheckpoint(eager=True)
    cur = mat.select(
        "*",
        *[
            F.lit(0.0).alias(f"x_{r}_{i}")
            for r in _MK_RUNS
            for i in range(1, 6)
        ],
    )
    m_cols = [f"m_{i}_{j}" for i in range(1, 6) for j in range(2, 7)]
    for _ in range(_MK_ITERS):
        cur = cur.select(
            *m_cols,
            *[
                F.expr(_mk_x_expr(r, i)).alias(f"x_{r}_{i}")
                for r in _MK_RUNS
                for i in range(1, 6)
            ],
        )
    cur = cur.localCheckpoint(eager=True)
    eff = {c: f"(1.0 - x_{c}_1 / x_full_1)" for c in _MK_RUNS[1:]}
    tot_eff = " + ".join(eff[c] for c in _MK_RUNS[1:])
    out = None
    for c in _MK_RUNS[1:]:
        row = cur.select(
            F.lit(c).alias("channel"),
            rnd("x_full_1", 6).alias("p_conv_full"),
            rnd(f"x_{c}_1", 6).alias("p_conv_removed"),
            rnd(F.expr(eff[c]), 6).alias("removal_effect"),
            rnd(F.expr(f"{eff[c]} / ({tot_eff})"), 6).alias(
                "attribution_share"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("channel")


# --------------------------------------------------------------------------
# Attribution-window sensitivity (r9). Every attribution number in
# this repo fixes a lookback window (1h stream join, 7d last-touch);
# the audit a marketing team actually asks for is how much the
# CREDITED TOTAL moves as the window widens — if 1h -> 24h doubles
# attributed revenue, the window choice IS the model. Four windows
# evaluated in one pass by counting each purchase's earliest
# qualifying click lag once and bucketing it, so the fact table is
# scanned once, not per window.
# --------------------------------------------------------------------------
_ATTR_WINDOWS_H = [1, 6, 24, 168]


@query(
    "q_attribution_window_sensitivity",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), lagged AS (
      SELECT p.event_id, p.value,
             min(epoch_us(p.ts) - epoch_us(c.ts)) AS lag_us
      FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.value
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_purchases,
             sum(value) AS revenue
      FROM p
    )
    SELECT w.h AS window_hours,
           CAST(count(CASE WHEN l.lag_us <= w.h * 3600000000
                           THEN 1 END) AS BIGINT) AS n_attributed,
           round(coalesce(sum(CASE WHEN l.lag_us <= w.h * 3600000000
                                   THEN l.value END), 0), 2)
             AS attributed_revenue,
           round(CAST(count(CASE WHEN l.lag_us <= w.h * 3600000000
                                 THEN 1 END) AS DOUBLE) / t.n_purchases,
                 6) AS attributed_frac
    FROM (VALUES {", ".join(f"({h})" for h in _ATTR_WINDOWS_H)}) w(h)
    CROSS JOIN tot t
    LEFT JOIN lagged l ON true
    GROUP BY w.h, t.n_purchases
    ORDER BY window_hours
    """,
)
def q_attribution_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How attributed purchases and revenue grow as the click-to-
    purchase lookback widens (1h / 6h / 24h / 7d): each purchase's
    earliest-click lag is computed once, then bucketed against every
    window — the sensitivity curve that tells you whether the
    attribution number is a measurement or an artifact of the
    window.

    Scale: one user-keyed join computes per-purchase minimum lag
    (purchase-count-bounded output), and the window sweep is a
    4-row broadcast cross join over that bounded table — the fact
    table is scanned once, not once per window."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("cts")
    )
    lagged = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_uid"))
            & (F.col("cts") <= F.col("pts")),
        )
        .groupBy("event_id", "value")
        .agg(
            F.min(
                F.unix_micros("pts") - F.unix_micros("cts")
            ).alias("lag_us")
        )
        .localCheckpoint(eager=True)
    )
    tot = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("value").alias("revenue"),
    )
    wdf = local_df(spark, [(h,) for h in _ATTR_WINDOWS_H], "h int")
    hit = F.col("lag_us") <= F.col("h").cast("bigint") * 3600000000
    return (
        wdf.crossJoin(tot)
        .join(lagged)
        .groupBy(F.col("h").alias("window_hours"), F.col("n_purchases"))
        .agg(
            F.count(F.when(hit, 1)).cast("bigint").alias("n_attributed"),
            rnd(
                F.coalesce(F.sum(F.when(hit, F.col("value"))), F.lit(0.0)),
                2,
            ).alias("attributed_revenue"),
            rnd(
                F.count(F.when(hit, 1)).cast("double")
                / F.first("n_purchases"),
                6,
            ).alias("attributed_frac"),
        )
        .select(
            "window_hours",
            "n_attributed",
            "attributed_revenue",
            "attributed_frac",
        )
        .orderBy("window_hours")
    )
