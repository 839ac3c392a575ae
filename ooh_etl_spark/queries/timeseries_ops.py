"""Twelfth coverage wave: time-series finishing ops and operability
diagnostics — OHLC bar resampling, two-pass z-score anomaly detection,
rolling 7-day actives, incremental aggregate maintenance (the
partial-agg merge that turns a nightly full recompute into a delta
job), and a join-key skew profiler (the tool you run BEFORE deciding a
join needs salting, q-operators/relational.salted_join).

Scale notes: bars and z-scores shuffle once on natural keys; the
rolling-actives calendar is a tiny broadcast range-join; incremental
maintenance re-aggregates two already-reduced inputs; the skew profiler
reduces to one row per key before anything else."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table


@register(
    "q106_ohlc_bars",
    """
    SELECT event_type,
           strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
             AS bar_start,
           count(*) AS n,
           round(arg_min(value, printf('%030d%015d', epoch_us(ts), event_id)), 2)
             AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(arg_max(value, printf('%030d%015d', epoch_us(ts), event_id)), 2)
             AS close,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS volume_c
    FROM events
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
)
def q106_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: 6-hour bars per event type with open/close
    picked by (ts, event_id) arg-extrema — the financial-data
    aggregation shape, done in ONE groupBy pass (min_by/max_by carry
    the open/close through the partial aggregate; no window, no sort).
    Volume is summed in integer cents. The arg-extrema order key is a
    zero-padded (micros, event_id) string because DuckDB 1.0's
    arg_min/arg_max take no composite keys; string order == numeric
    order under fixed-width padding."""
    ev = load_table(spark, sf_dir, "events")
    bar = F.date_format(
        F.window("ts", "6 hours").start, "yyyy-MM-dd HH:mm:ss"
    )
    # ts may arrive as TIMESTAMP or TIMESTAMP_NTZ depending on the
    # fixture's on-disk encoding (load_table's dtype guard); unix_micros
    # accepts only TIMESTAMP, and under the UTC session timezone the
    # NTZ→TZ cast is value-preserving, so cast unconditionally.
    ord_key = F.format_string(
        "%030d%015d", F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    return (
        ev.groupBy("event_type", bar.alias("bar_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min_by("value", ord_key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", ord_key), 2).alias("close"),
            F.sum(quantise("value", 2)).cast("bigint").alias("volume_c"),
        )
        .orderBy("event_type", "bar_start")
    )


_Z_BP = 3 * 10000  # |z| > 3 in basis points


@register(
    "q107_zscore_anomalies",
    f"""
    WITH stats AS (
      SELECT event_type,
             CAST(round(avg(value) * 1000000) AS BIGINT) AS mean_u,
             CAST(round(stddev_pop(value) * 1000000) AS BIGINT) AS std_u
      FROM events GROUP BY event_type),
         scored AS (
      SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
             CAST(round(10000.0 * (e.value * 1000000 - s.mean_u) / s.std_u)
                  AS BIGINT) AS z_bp
      FROM events e JOIN stats s USING (event_type))
    SELECT event_id, event_type, value, z_bp
    FROM scored
    WHERE abs(z_bp) > {_Z_BP}
    ORDER BY event_id
    """,
)
def q107_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass z-score anomaly detection: per-type mean/std (pass 1,
    reduced to 5 rows, broadcast), then every event scored against its
    type's distribution (pass 2, pure map side) — the canonical
    'statistics then scoring' split that avoids any window over the
    full stream. Moments are quantized to micro-units before the
    ratio so the |z| > 3 cut is engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        quantise(F.avg("value"), 6).alias("mean_u"),
        quantise(F.stddev_pop("value"), 6).alias("std_u"),
    )
    scored = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.round(
            10000.0 * (F.col("value") * 1000000 - F.col("mean_u")) / F.col("std_u")
        )
        .cast("bigint")
        .alias("z_bp"),
    )
    return scored.filter(F.abs(F.col("z_bp")) > _Z_BP).orderBy("event_id")


_ROLL_DAYS = 7


@register(
    "q108_rolling_actives",
    f"""
    WITH daily AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
         cal AS (
      SELECT DISTINCT day FROM daily),
         rolled AS (
      SELECT c.day, d.user_id
      FROM cal c JOIN daily d
        ON d.day <= c.day
       AND d.day > c.day - INTERVAL '{_ROLL_DAYS} days'
      GROUP BY c.day, d.user_id)
    SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS rolling_actives
    FROM rolled GROUP BY day ORDER BY day
    """,
)
def q108_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives (WAU curve). COUNT(DISTINCT) is
    not window-able, so the standard rewrite: collapse to (day, user)
    once, range-join against the ~30-row day calendar (broadcast — the
    fan-out is bounded by 7x the collapsed table, never by raw event
    volume), dedup, count. The expensive input is reduced BEFORE the
    fan-out; raw events are touched exactly once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    cal = daily.select("day").distinct()
    rolled = (
        daily.join(
            F.broadcast(cal.select(F.col("day").alias("cday"))),
            (F.col("day") <= F.col("cday"))
            & (F.col("day") > F.col("cday") - F.expr(f"INTERVAL {_ROLL_DAYS} DAYS")),
        )
        .select("cday", "user_id")
        .distinct()
    )
    return (
        rolled.groupBy(F.date_format("cday", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("rolling_actives"))
        .orderBy("day")
    )


_DELTA_FROM = "2024-01-26"


@register(
    "q109_incremental_agg",
    f"""
    WITH base AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
      FROM events WHERE ts < TIMESTAMP '{_DELTA_FROM}'
      GROUP BY event_type),
         delta AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
      FROM events WHERE ts >= TIMESTAMP '{_DELTA_FROM}'
      GROUP BY event_type),
         merged AS (
      SELECT event_type, sum(n) AS n, sum(sum_c) AS sum_c
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(sum_c AS BIGINT) AS sum_c,
           round(sum_c / 100.0 / n, 2) AS avg_value
    FROM merged ORDER BY event_type
    """,
)
def q109_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a 'base' aggregate (history)
    merged with a 'delta' aggregate (the new partition) by re-reducing
    their decomposable summaries (count, integer-cent sum) — the
    pattern that turns a nightly 100 TB recompute into a job that only
    reads yesterday's parquet. avg is derived from the merged sums, so
    it is exactly the avg of a full recompute (what the oracle runs on
    its side, modulo the identical split). Both branches prune on the
    pushed-down ts range."""
    ev = load_table(spark, sf_dir, "events")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quantise("value", 2)).cast("bigint").alias("sum_c"),
        )

    base = summarize(ev.filter(F.col("ts") < _DELTA_FROM))
    delta = summarize(ev.filter(F.col("ts") >= _DELTA_FROM))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_c").alias("sum_c"))
    )
    return merged.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_c").cast("bigint").alias("sum_c"),
        F.round(F.col("sum_c") / 100.0 / F.col("n"), 2).alias("avg_value"),
    ).orderBy("event_type")


_SKEW_TOP = 10


@register(
    "q110_skew_profiler",
    f"""
    WITH k AS (
      SELECT o_custkey AS key, count(*) AS cnt
      FROM orders GROUP BY o_custkey),
         s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM k),
         top AS (
      SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key) AS rk
      FROM k)
    SELECT t.rk, t.key, CAST(t.cnt AS BIGINT) AS cnt,
           CAST(round(10000.0 * t.cnt * s.n_keys / s.total) AS BIGINT)
             AS skew_x_bp
    FROM top t CROSS JOIN s
    WHERE t.rk <= {_SKEW_TOP}
    ORDER BY t.rk
    """,
)
def q110_skew_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the top-10 heaviest o_custkey values and
    each one's skew factor (its count over the mean per-key count, in
    basis points) — the diagnostic you run before choosing between a
    plain shuffle join, AQE skew splitting, or an explicit salted join
    (operators/relational.salted_join). One shuffle reduces orders to
    one row per key; the global stats are a 1-row broadcast; ranking
    funnels only the per-key table through a single window partition —
    acceptable because its cardinality is already |keys|, not |rows|
    (and at extreme key counts the same query runs on a sampled
    fraction)."""
    orders = load_table(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    s = k.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    top = k.select(
        "key",
        "cnt",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "key")).alias("rk"),
    ).filter(F.col("rk") <= _SKEW_TOP)
    return (
        top.crossJoin(F.broadcast(s))
        .select(
            "rk",
            "key",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(10000.0 * F.col("cnt") * F.col("n_keys") / F.col("total"))
            .cast("bigint")
            .alias("skew_x_bp"),
        )
        .orderBy("rk")
    )


_EWMA_LAST = 20
_EWMA_A = 0.1  # smoothing factor


@register(
    "q126_ewma_last20",
    f"""
    WITH ranked AS (
      SELECT user_id, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events),
         tail AS (
      SELECT user_id,
             array_agg(value ORDER BY ts, event_id) AS vals
      FROM ranked WHERE rk <= {_EWMA_LAST}
      GROUP BY user_id)
    SELECT user_id,
           len(vals) AS n,
           round(list_reduce(vals,
                             (acc, x) -> {_EWMA_A} * x + {1 - _EWMA_A} * acc),
                 4) AS ewma
    FROM tail ORDER BY user_id
    """,
)
def q126_ewma_last20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's last 20
    event values (a=0.1) — the smoothing op behind alerting baselines.
    EWMA is inherently sequential, which defeats window frames; the
    scalable form: bound state FIRST (top-20-per-user via row_number —
    per-user memory is constant), collect the short tail into an
    ordered array, and run the recurrence as an ORDERED ARRAY FOLD —
    per-row folds are bit-identical across engines (q30/q77 precedent),
    so no quantization is needed before the final 4-dp round."""
    ev = load_table(spark, sf_dir, "events")
    wdesc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tail = (
        ev.withColumn("rk", F.row_number().over(wdesc))
        .filter(F.col("rk") <= _EWMA_LAST)
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "value"))
                ),
                lambda s: s["value"],
            ).alias("vals")
        )
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, _EWMA_LAST),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: _EWMA_A * x + (1 - _EWMA_A) * acc,
    )
    return tail.select(
        "user_id",
        F.size("vals").alias("n"),
        F.round(ewma, 4).alias("ewma"),
    ).orderBy("user_id")


@register(
    "q198_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      FROM events GROUP BY 1, 2),
         cur AS (
      SELECT event_type, day,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t,
             sum(cnt) OVER (PARTITION BY event_type) AS total,
             count(*) OVER (PARTITION BY event_type) AS t_n
      FROM daily),
         dev AS (
      SELECT event_type, day, t_n,
             t_n * s_t - t * total AS d_t
      FROM cur),
         pick AS (
      SELECT event_type, day, d_t, t_n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(d_t) DESC, day) AS rn
      FROM dev)
    SELECT event_type, day AS change_day,
           CAST(round(100 * abs(d_t) / t_n) AS BIGINT) AS cusum_e2
    FROM pick WHERE rn = 1
    ORDER BY event_type
    """,
)
def q198_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint detection (Page 1954) over each event
    type's daily-count series: the changepoint estimate is argmax_t
    |S_t - t*mean|, the day where the cumulative deviation from the
    series mean peaks. Computed entirely in integers by scaling out
    the division: D_t = T*S_t - t*total is exact (the mean never
    materializes as a double), so argmax and its tie-break (earliest
    day) are bit-deterministic; only the reported magnitude divides
    at the end, quantized to 1e-2.

    100 TB design: the only corpus-scale pass is the daily groupBy
    (map-side partial counts). Every window is PARTITIONED by
    event_type over the per-day series — bounded by days-in-history,
    not event count. The argmax is Spark-side a map-side-combinable
    min(struct(-|d|, day, ...)) (the q55 arg-extrema pattern), not a
    rank-and-filter; the oracle phrases the identical selection as
    row_number=1 because DuckDB's struct min orders differently."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("event_type")
    cur = daily.select(
        "event_type",
        "day",
        F.row_number().over(w_ord).alias("t"),
        F.sum("cnt").over(w_cum).alias("s_t"),
        F.sum("cnt").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("t_n"),
    )
    dev = cur.select(
        "event_type",
        "day",
        "t_n",
        (F.col("t_n") * F.col("s_t") - F.col("t") * F.col("total")).alias("d_t"),
    )
    pick = dev.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-F.abs(F.col("d_t"))).alias("neg_abs"),
                F.col("day").alias("day"),
                F.col("d_t").alias("d_t"),
                F.col("t_n").alias("t_n"),
            )
        ).alias("m")
    )
    return pick.select(
        "event_type",
        F.col("m.day").alias("change_day"),
        F.round(100 * F.abs(F.col("m.d_t")) / F.col("m.t_n"))
        .cast("bigint")
        .alias("cusum_e2"),
    ).orderBy("event_type")


@register(
    "q199_mase_seasonal",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      FROM events GROUP BY 1, 2),
         lagged AS (
      SELECT event_type, cnt,
             lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7,
             lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1
      FROM daily),
         agg AS (
      SELECT event_type,
             count(*) AS n_days,
             sum(abs(cnt - l7)) AS sum7, count(l7) AS n7,
             sum(abs(cnt - l1)) AS sum1, count(l1) AS n1
      FROM lagged GROUP BY event_type)
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(round(1000000 * (sum7 * n1) / (1.0 * n7 * sum1))
                AS BIGINT) AS mase_e6
    FROM agg ORDER BY event_type
    """,
)
def q199_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Absolute Scaled Error (Hyndman & Koehler 2006) of the
    seasonal-naive forecast (y_hat_t = y_{t-7}) for each event type's
    daily-count series, scaled by the in-sample one-step naive error —
    the standard scale-free forecast-accuracy metric. Both error sums
    are exact integers (counts minus counts), so MASE reduces to one
    cross-multiplied integer ratio with a single final double
    division, quantized to 1e-6 — bit-identical across engines.

    100 TB design: identical shape to q198 — the corpus-scale work is
    one daily groupBy with map-side partials; the lag windows run
    per event-type over the day-grain series (bounded by calendar
    length, not event count), and the final stats are one
    map-side-combinable agg per type."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 7).over(w).alias("l7"),
        F.lag("cnt", 1).over(w).alias("l1"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("cnt") - F.col("l7"))).alias("sum7"),
        F.count("l7").alias("n7"),
        F.sum(F.abs(F.col("cnt") - F.col("l1"))).alias("sum1"),
        F.count("l1").alias("n1"),
    )
    return agg.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(
            1000000
            * (F.col("sum7") * F.col("n1"))
            / (1.0 * F.col("n7") * F.col("sum1"))
        )
        .cast("bigint")
        .alias("mase_e6"),
    ).orderBy("event_type")


@register(
    "q207_decayed_trending",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      FROM events GROUP BY 1, 2),
         ref AS (SELECT max(day) AS ref_day FROM daily),
         wtd AS (
      SELECT event_type, cnt,
             CAST(round(1000000 * pow(0.5,
                    floor(date_diff('day', day, ref_day) / 7.0)))
                  AS BIGINT) AS w_e6
      FROM daily CROSS JOIN ref)
    SELECT event_type,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           CAST(sum(cnt * w_e6) AS BIGINT) AS trend_e6
    FROM wtd
    GROUP BY event_type
    ORDER BY trend_e6 DESC, event_type
    """,
)
def q207_decayed_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity ranking ('trending now'):
    each day's count is weighted by 0.5^(age_weeks) — a 7-day
    half-life at WEEKLY granularity, deliberately: the exponent stays
    an integer, so the weight is an exactly-representable power of
    two and pow() agrees bit-for-bit across engines (a fractional
    exponent would ride on libm's last-ulp behavior — the reason the
    weight quantizes to 1e-6 integers before the weighted sum, which
    then adds exact integers in any order). Reported next to the raw
    count so the re-ranking decay causes is visible.

    100 TB design: the corpus-scale pass is the daily count (map-side
    partials); the reference day is a 1-row broadcast; the weighted
    rollup is a second small aggregation over the day-grain table. In
    streaming form this is the decayed-count sketch (half-life
    registers); the batch form here is its exact replay."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ref = daily.agg(F.max("day").alias("ref_day"))
    wtd = daily.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "cnt",
        quantise(F.pow(0.5, F.floor(F.datediff(F.col("ref_day"), F.col("day")) / 7.0),), 6)
        .alias("w_e6"),
    )
    return (
        wtd.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum(F.col("cnt") * F.col("w_e6")).cast("bigint").alias("trend_e6"),
        )
        .orderBy(F.desc("trend_e6"), "event_type")
    )


@register(
    "q213_mad_outliers",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events),
         med AS (
      SELECT event_type,
             CAST(quantile_disc(v_u, 0.5) AS BIGINT) AS med_u
      FROM v GROUP BY event_type),
         dev AS (
      SELECT v.event_type, v.v_u, med.med_u,
             abs(v.v_u - med.med_u) AS d_u
      FROM v JOIN med USING (event_type)),
         mad AS (
      SELECT event_type,
             CAST(quantile_disc(d_u, 0.5) AS BIGINT) AS mad_u
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           count(*) AS n,
           CAST(max(d.med_u) AS BIGINT) AS med_u,
           CAST(max(m.mad_u) AS BIGINT) AS mad_u,
           CAST(sum(CASE WHEN 6745 * d.d_u > 35000 * m.mad_u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def q213_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census by modified z-score (Iglewicz & Hoaglin
    1993): median / median-absolute-deviation replace q107's
    mean / stddev, so a few extreme values cannot inflate the scale
    estimate and mask themselves — the robust twin every monitoring
    pipeline wants next to the classical z-score.

    Shape: values quantize to integer micro-units up front, so both
    medians are exact discrete percentiles over integers (the q141
    convention — no float percentile ambiguity); the per-type median
    and MAD tables are |event_types| rows and BROADCAST back to the
    fact rows (two small hash joins, no fact re-shuffle); the outlier
    test 0.6745·|x−med|/MAD > 3.5 is cross-multiplied to pure bigint
    arithmetic (6745·d > 35000·MAD), so no division ever happens.
    Two fact passes total — the price of exact medians; at extreme
    scale the documented swap is approx_percentile for pass 1 with
    everything downstream unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        quantise("value", 6).alias("v_u"),
    )

    def disc_med(c: str) -> F.Column:
        return F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {c})")

    # checkpoints hold the pass count at the documented two: med
    # (|types| rows) feeds the deviation join, dev (narrow corpus
    # rows) feeds both the MAD percentile and the final census —
    # without them the plan re-scanned the facts 4x.
    med = materialize(v.groupBy("event_type").agg(
        disc_med("v_u").cast("bigint").alias("med_u")
    ))
    dev = materialize(v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_u",
        F.abs(F.col("v_u") - F.col("med_u")).alias("d_u"),
    ))
    mad = dev.groupBy("event_type").agg(
        disc_med("d_u").cast("bigint").alias("mad_u")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med_u").cast("bigint").alias("med_u"),
            F.max("mad_u").cast("bigint").alias("mad_u"),
            F.sum(
                F.when(
                    6745 * F.col("d_u") > 35000 * F.col("mad_u"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "q229_seasonal_profile",
    """
    WITH cells AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2),
         tot AS (
      SELECT sum(n) AS n_total, count(*) AS n_cells FROM cells)
    SELECT c.dow, c.hod, CAST(c.n AS BIGINT) AS n,
           CAST(round(10000.0 * c.n * t.n_cells / t.n_total) AS BIGINT)
             AS index_bp
    FROM cells c CROSS JOIN tot t
    ORDER BY dow, hod
    """,
)
def q229_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heatmap: event volume per (day-of-week,
    hour-of-day) cell with a SEASONAL INDEX — cell count over the
    all-cells mean, in basis points (10000 = flat; the ops/forecasting
    profile behind staffing curves and anomaly baselines like q107's,
    which assumes stationarity this query would disprove). Exact
    integer counts; one double ratio per cell, rounded.

    Shape: ONE calendar-keyed aggregate over the scan (<= 168 cells
    regardless of corpus size — map-side partials absorb everything),
    a 1-row total broadcast, then per-cell math. The extreme-scale
    cost is identical to a count(*): this is the cheapest profile a
    100 TB event store can buy. DOW convention pinned by the oracle:
    both engines number Sunday = 0 (Spark dayofweek is 1-based
    Sunday = 1, so the Spark side subtracts 1).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("n_cells")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            F.col("n").cast("bigint").alias("n"),
            F.round(10000.0 * F.col("n") * F.col("n_cells") / F.col("n_total"))
            .cast("bigint")
            .alias("index_bp"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "q230_fano_burstiness",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2),
         s AS (
      SELECT event_type, count(*) AS k, sum(n) AS sx, sum(n * n) AS sxx
      FROM hourly GROUP BY event_type)
    SELECT event_type,
           CAST(k AS BIGINT) AS n_hours,
           CAST(sx AS BIGINT) AS n_events,
           CAST(round(1000000.0 * (sxx - sx * sx * 1.0 / k) / (k - 1)
                      / (sx * 1.0 / k)) AS BIGINT) AS fano_e6
    FROM s
    WHERE k > 1
    ORDER BY event_type
    """,
)
def q230_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness by Fano factor (variance-to-mean ratio of hourly
    arrival counts, Fano 1947): a Poisson-random arrival process has
    F = 1; F >> 1 means bursty/clumped traffic (retry storms, batch
    jobs, bot waves), F << 1 means regularized traffic (rate limiting
    works) — the single-number dispersion diagnostic behind q134's
    burst detector and any autoscaling policy. Computed per event
    type from exact integer (k, Σn, Σn²) over the hour-grain table,
    so the one double expression per type is engine-identical; output
    in 1e-6 units.

    Shape: the corpus pass is the hourly aggregate (calendar-bounded
    key space, map-side partials); the moment reduce runs over the
    hour-grain table. Two shuffles total at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") * 1.0 / F.col("k")) / (
        F.col("k") - 1
    )
    mean = F.col("sx") * 1.0 / F.col("k")
    return (
        s.filter(F.col("k") > 1)
        .select(
            "event_type",
            F.col("k").cast("bigint").alias("n_hours"),
            F.col("sx").cast("bigint").alias("n_events"),
            F.round(1000000.0 * var / mean).cast("bigint").alias("fano_e6"),
        )
        .orderBy("event_type")
    )


@register(
    "q244_seasonal_anomalies",
    """
    WITH cells AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             date_trunc('hour', ts) AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3),
         base AS (
      SELECT dow, hod,
             count(*) AS k, sum(n) AS sx, sum(n * n) AS sxx
      FROM cells GROUP BY dow, hod),
         scored AS (
      SELECT c.h, c.dow, c.hod, c.n, b.k,
             b.sx * 1.0 / b.k AS mu,
             sqrt((b.sxx - b.sx * b.sx * 1.0 / b.k) / (b.k - 1)) AS sd
      FROM cells c JOIN base b ON b.dow = c.dow AND b.hod = c.hod
      WHERE b.k > 2)
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour,
           dow, hod, CAST(n AS BIGINT) AS n,
           CAST(round(10000.0 * (n - mu) / sd) AS BIGINT) AS z_bp,
           CAST(CASE WHEN abs(round(10000.0 * (n - mu) / sd)) > 30000
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM scored
    WHERE sd > 0
    ORDER BY abs(round(10000.0 * (n - mu) / sd)) DESC, hour
    LIMIT 20
    """,
)
def q244_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each hour's event count is
    z-scored against ITS OWN (day-of-week, hour-of-day) cell baseline
    — q107's classical z-score flags every Friday evening as anomalous
    because it compares against the global mean; this compares Friday
    7pm against other Friday 7pms (q229's profile turned into a
    detector). Emits the 20 most extreme hours with an |z| > 3 flag
    (never vacuous: the monitor's top-of-queue is the product even on
    quiet days).

    Engine-exactness: cell baselines come from exact integer (k, Σn,
    Σn²) over the hour-grain table; mu/sd/z are identical IEEE
    expressions on exact ints, emitted in basis points. Shape: ONE
    calendar-keyed aggregate over the scan (hour-grain, bounded), a
    168-row baseline joined back to hour rows — the detector costs a
    count(*) at any corpus size. Cells seen fewer than 3 times are
    excluded (no stable baseline).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
            F.date_trunc("hour", "ts").alias("h"),
        )
        .groupBy("dow", "hod", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = cells.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    mu = F.col("sx") * 1.0 / F.col("k")
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") * 1.0 / F.col("k"))
        / (F.col("k") - 1)
    )
    z = F.round(10000.0 * (F.col("n") - mu) / sd).cast("bigint")
    return (
        cells.join(F.broadcast(base.filter(F.col("k") > 2)), ["dow", "hod"])
        .withColumn("sd", sd)
        .withColumn("z_bp", z)
        .filter(F.col("sd") > 0)
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            "dow",
            "hod",
            F.col("n").cast("bigint").alias("n"),
            "z_bp",
            (F.abs(F.col("z_bp")) > 30000).cast("bigint").alias("is_anomaly"),
        )
        .orderBy(F.abs(F.col("z_bp")).desc(), "hour")
        .limit(20)
    )


@register(
    "q248_twap",
    """
    WITH o AS (
      SELECT event_type, ts,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             lead(ts) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS nxt
      FROM events),
         seg AS (
      SELECT event_type, v_c,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS dur_s
      FROM o WHERE nxt IS NOT NULL)
    SELECT event_type,
           count(*) AS n_segments,
           CAST(sum(dur_s) AS BIGINT) AS total_s,
           CAST(FLOOR(sum(v_c * dur_s) * 1.0 / sum(dur_s)) AS BIGINT)
             AS twap_c
    FROM seg
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q248_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price (TWAP — the execution-quality and
    billing-meter aggregate): each observation's value holds until the
    next observation, so the average weights every value by its
    HOLDING DURATION rather than its sample count — the correct mean
    for irregularly-sampled state (a price quoted once overnight
    counts 8 hours, not 1 tick; a metered rate bills by wall time).
    Contrast q126's EWMA (recency weighting) and q106's OHLC (bar
    summaries): TWAP is the integral of the step function divided by
    elapsed time.

    Engine-exactness: durations are integer seconds, values integer
    cents, so the weighted sum Σ v·dur is an exact bigint and the one
    final division floors identically. Shape: ONE type-keyed window
    (lead) over one shuffle, then a 5-key aggregate with map-side
    partials — linear in events at any scale, no per-key
    materialization.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        "ts",
        quantise("value", 2).alias("v_c"),
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    seg = o.select(
        "event_type",
        "v_c",
        (F.unix_timestamp("nxt") - F.unix_timestamp("ts"))
        .cast("bigint")
        .alias("dur_s"),
    )
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur_s").cast("bigint").alias("total_s"),
            F.floor(
                F.sum(F.col("v_c") * F.col("dur_s")) * 1.0 / F.sum("dur_s")
            )
            .cast("bigint")
            .alias("twap_c"),
        )
        .orderBy("event_type")
    )


_SLO_BP = 2200  # error-budget threshold: alert when error share > 22%


@register(
    "q249_slo_burn_rate",
    f"""
    WITH m AS (
      SELECT date_trunc('hour', ts)
               + INTERVAL (CAST(minute(ts) // 10 AS INT) * 10) MINUTE
               AS w10,
             date_trunc('hour', ts) AS w60,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events),
         short AS (
      SELECT w10, w60, count(*) AS n, sum(is_err) AS e
      FROM m GROUP BY w10, w60),
         long AS (
      SELECT w60, sum(n) AS n60, sum(e) AS e60 FROM short GROUP BY w60)
    SELECT strftime(s.w10, '%Y-%m-%d %H:%M') AS window_10m,
           CAST(s.n AS BIGINT) AS n_10m,
           CAST(s.e AS BIGINT) AS err_10m,
           CAST(FLOOR(10000.0 * s.e / s.n) AS BIGINT) AS rate_10m_bp,
           CAST(FLOOR(10000.0 * l.e60 / l.n60) AS BIGINT) AS rate_60m_bp,
           CAST(CASE WHEN 10000.0 * s.e / s.n > {_SLO_BP}
                      AND 10000.0 * l.e60 / l.n60 > {_SLO_BP}
                     THEN 1 ELSE 0 END AS BIGINT) AS page
    FROM short s JOIN long l ON l.w60 = s.w60
    ORDER BY window_10m
    """,
)
def q249_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    pattern): a page fires only when BOTH the fast 10-minute window
    AND the slow 60-minute window burn error budget above threshold —
    the short window gives detection latency, the long window
    suppresses blips that self-heal (single-window alerting must pick
    one failure mode). Error share per window in exact basis points
    from integer counts; the 22% threshold is tuned to the fixture's
    ~20% ambient error rate so pages actually occur AND non-pages
    exist (non-vacuous both ways).

    Shape: ONE calendar-keyed aggregate builds the 10-minute grain;
    the hour grain REUSES it (sum of six cells, never a second corpus
    pass); the join is grain-to-grain on bounded tables. The streaming
    twin is two windowed aggregations over the same watermark —
    identical math.
    """
    ev = load_table(spark, sf_dir, "events")
    w10 = F.from_unixtime(
        (F.floor(F.unix_timestamp("ts") / 600) * 600)
    ).cast("timestamp")
    m = ev.select(
        w10.alias("w10"),
        F.date_trunc("hour", "ts").alias("w60"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    short = m.groupBy("w10", "w60").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_err").alias("e")
    )
    long = short.groupBy("w60").agg(
        F.sum("n").alias("n60"), F.sum("e").alias("e60")
    )
    rate10 = 10000.0 * F.col("e") / F.col("n")
    rate60 = 10000.0 * F.col("e60") / F.col("n60")
    return (
        short.join(long, "w60")
        .select(
            F.date_format("w10", "yyyy-MM-dd HH:mm").alias("window_10m"),
            F.col("n").cast("bigint").alias("n_10m"),
            F.col("e").cast("bigint").alias("err_10m"),
            F.floor(rate10).cast("bigint").alias("rate_10m_bp"),
            F.floor(rate60).cast("bigint").alias("rate_60m_bp"),
            ((rate10 > _SLO_BP) & (rate60 > _SLO_BP))
            .cast("bigint")
            .alias("page"),
        )
        .orderBy("window_10m")
    )


_HOLT_DAYS = 40  # generous cap on the unrolled day-grain recursion


def _holt_oracle() -> str:
    """DuckDB oracle for q259: the SAME integer Holt recurrence as the
    driver-side loop, unrolled as a MATERIALIZED recursive CTE over
    the (bounded) day-grain series. alpha=1/4, beta=1/8 as exact
    integer shifts: l' = (y + 3l + 3b) DIV 4 ... all floor divisions
    on non-negative micro-cent magnitudes are engine-identical."""
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         idx AS MATERIALIZED (
      SELECT d, y_c, row_number() OVER (ORDER BY d) AS i FROM daily),
         n AS MATERIALIZED (SELECT max(i) AS n FROM idx),
         holt(i, l, b) AS (
      SELECT 1, (SELECT y_c FROM idx WHERE i = 1), CAST(0 AS BIGINT)
      UNION ALL
      SELECT h.i + 1,
             CAST(FLOOR((x.y_c + 3.0 * (h.l + h.b)) / 4.0) AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((x.y_c + 3.0 * (h.l + h.b)) / 4.0)
                              AS BIGINT) - h.l + 7.0 * h.b) / 8.0)
                  AS BIGINT)
      FROM holt h
      JOIN idx x ON x.i = h.i + 1
      WHERE h.i < {_HOLT_DAYS}),
         last AS (
      SELECT l, b FROM holt ORDER BY i DESC LIMIT 1)
    SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_days,
           CAST(l AS BIGINT) AS level_c,
           CAST(b AS BIGINT) AS trend_c,
           CAST(l + b AS BIGINT) AS forecast_1_c,
           CAST(l + 7 * b AS BIGINT) AS forecast_7_c
    FROM last
    """


@register("q259_holt_trend", _holt_oracle())
def q259_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957) on
    daily purchase revenue — the forecasting step up from q126's EWMA
    (level only): a trend state lets the 1-day and 7-day forecasts
    extrapolate instead of flat-lining. α=1/4, β=1/8 chosen as exact
    binary fractions so every recurrence step is INTEGER arithmetic
    (l′ = ⌊(y + 3(l+b))/4⌋, b′ = ⌊(l′ − l + 7b)/8⌋ in cents) — the
    state never touches a float, so the recursion is bit-exact on
    both engines and across any number of refits.

    Division of labor (the q222 contract): Spark reduces the corpus
    to the DAY-GRAIN series (one calendar-keyed aggregate — bounded
    by the calendar at any volume); the sequential recurrence — which
    no window function expresses and which is day-count-long, not
    data-long — runs driver-side, matching the oracle's MATERIALIZED
    recursive CTE step for step. Emits final level/trend and the
    1-day / 7-day linear forecasts.
    """
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(quantise("value", 2)).alias("y_c")
        )
        .orderBy("d")
    )
    rows = daily.collect()
    ys = [int(r["y_c"]) for r in rows][:_HOLT_DAYS]
    l, b = ys[0], 0
    for y in ys[1:]:
        l_new = int(math.floor((y + 3.0 * (l + b)) / 4.0))
        b = int(math.floor((l_new - l + 7.0 * b) / 8.0))
        l = l_new
    out = [(len(rows), l, b, l + b, l + 7 * b)]
    return spark.createDataFrame(
        out,
        "n_days long, level_c long, trend_c long, "
        "forecast_1_c long, forecast_7_c long",
    )


@register(
    "q261_peak_detection",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         nb AS (
      SELECT d, y_c,
             lag(y_c) OVER w AS prev_c,
             lead(y_c) OVER w AS next_c
      FROM daily WINDOW w AS (ORDER BY d))
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(y_c AS BIGINT) AS y_c,
           CAST(y_c - greatest(prev_c, next_c) AS BIGINT) AS margin_c
    FROM nb
    WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
      AND y_c > prev_c AND y_c > next_c
    ORDER BY day
    """,
)
def q261_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on daily purchase revenue — the
    campaign-spike / incident-echo finder: a day is a peak when it
    strictly exceeds BOTH neighbors, reported with its margin over the
    higher one (a cheap prominence proxy that ranks sharp spikes above
    rounded bumps). Series endpoints are excluded (one-sided maxima
    are censoring artifacts, not peaks).

    The lag/lead taps run on the DAY-GRAIN table (calendar-bounded —
    the global window never sees corpus rows, q196's contract); the
    corpus pass is the one daily aggregate. Everything is exact
    integer cents.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(quantise("value", 2)).alias("y_c")
        )
    )
    w = Window.orderBy("d")
    nb = daily.select(
        "d",
        "y_c",
        F.lag("y_c").over(w).alias("prev_c"),
        F.lead("y_c").over(w).alias("next_c"),
    )
    return (
        nb.filter(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("y_c") > F.col("prev_c"))
            & (F.col("y_c") > F.col("next_c"))
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("y_c").cast("bigint").alias("y_c"),
            (F.col("y_c") - F.greatest("prev_c", "next_c"))
            .cast("bigint")
            .alias("margin_c"),
        )
        .orderBy("day")
    )


@register(
    "q262_daily_tail_percentiles",
    """
    WITH v AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           count(*) AS n,
           CAST(quantile_disc(v_u, 0.50) AS BIGINT) AS p50_u,
           CAST(quantile_disc(v_u, 0.95) AS BIGINT) AS p95_u,
           CAST(quantile_disc(v_u, 0.99) AS BIGINT) AS p99_u
    FROM v
    GROUP BY event_type, d
    ORDER BY event_type, day
    """,
)
def q262_daily_tail_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tail-percentile table per event type (p50/p95/p99 — the
    latency-SLO report every service dashboard renders; here over the
    value metric): exact DISCRETE percentiles on integer micro-units,
    so every cell is engine-identical with zero quantization ambiguity
    (the q141 convention, now per group-day).

    Shape: percentile_disc groups shuffle on the (type, day) key —
    high-cardinality, calendar-bounded, skew-free; each group sorts
    only its own rows. At extreme per-group volumes the documented
    swap is approx_percentile (t-digest-class sketch, mergeable
    partials) with the same output schema — q39b's twin relationship,
    at the grouped grain.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        quantise("value", 6).alias("v_u"),
    )

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v_u)")

    return (
        v.groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            disc(0.50).cast("bigint").alias("p50_u"),
            disc(0.95).cast("bigint").alias("p95_u"),
            disc(0.99).cast("bigint").alias("p99_u"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n",
            "p50_u",
            "p95_u",
            "p99_u",
        )
        .orderBy("event_type", "day")
    )


@register(
    "q284_seasonality_strength",
    """
    WITH hourly AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             date_trunc('hour', ts) AS h,
             count(*) AS y
      FROM events GROUP BY 1, 2, 3),
         cell AS (
      SELECT dow, hod, count(*) AS k, sum(y) AS sy, sum(y * y) AS syy
      FROM hourly GROUP BY dow, hod),
         tot AS (
      SELECT sum(k) AS n, sum(sy) AS sy, sum(syy) AS syy,
             sum(syy - sy * sy * 1.0 / k) AS ss_res
      FROM cell)
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(round(1000000.0 * ss_res) AS BIGINT) AS ss_res_e6,
           CAST(round(10000.0 * (1.0 - ss_res
                                 / (syy - sy * sy * 1.0 / n)))
                AS BIGINT) AS seasonality_r2_bp
    FROM tot
    """,
)
def q284_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength — the R² of the weekly (dow, hour) profile
    on hourly volumes: how much of the traffic variance the q229
    heatmap actually EXPLAINS (high R² justifies q244's seasonal
    baselines and seasonal-naive forecasting like q199's; low R²
    means the 168-cell model is decoration). The groupwise ANOVA
    identity needs only exact integer (k, Σy, Σy²) per cell —
    SS_res = Σ_cells(Σy² − (Σy)²/k) — so one calendar-keyed aggregate
    and one 168-row reduce produce the whole decomposition; R² in bp.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
            F.date_trunc("hour", "ts").alias("h"),
        )
        .groupBy("dow", "hod", "h")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    cell = hourly.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = cell.agg(
        F.sum("k").alias("n"),
        F.sum("sy").alias("sy"),
        F.sum("syy").alias("syy"),
        F.sum(
            F.col("syy") - F.col("sy") * F.col("sy") * 1.0 / F.col("k")
        ).alias("ss_res"),
    )
    ss_tot = F.col("syy") - F.col("sy") * F.col("sy") * 1.0 / F.col("n")
    return tot.select(
        F.col("n").cast("bigint").alias("n_hours"),
        quantise("ss_res", 6).alias("ss_res_e6"),
        quantise(1.0 - F.col("ss_res") / ss_tot, 4)
        .alias("seasonality_r2_bp"),
    )


@register(
    "q287_tukey_fences",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events),
         q AS (
      SELECT event_type,
             CAST(quantile_disc(v_u, 0.25) AS BIGINT) AS q1,
             CAST(quantile_disc(v_u, 0.75) AS BIGINT) AS q3
      FROM v GROUP BY event_type),
         f AS (
      SELECT event_type, q1, q3,
             CAST(q1 - (3 * (q3 - q1)) // 2 AS BIGINT) AS lo,
             CAST(q3 + (3 * (q3 - q1)) // 2 AS BIGINT) AS hi
      FROM q)
    SELECT v.event_type,
           CAST(max(f.q1) AS BIGINT) AS q1_u,
           CAST(max(f.q3) AS BIGINT) AS q3_u,
           CAST(max(f.lo) AS BIGINT) AS fence_lo_u,
           CAST(max(f.hi) AS BIGINT) AS fence_hi_u,
           CAST(sum(CASE WHEN v.v_u < f.lo OR v.v_u > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM v JOIN f ON f.event_type = v.event_type
    GROUP BY v.event_type
    ORDER BY v.event_type
    """,
)
def q287_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences (Q1 − 1.5·IQR, Q3 + 1.5·IQR) with outlier
    counts per event type — the third member of the anomaly triad
    next to the classical z (q107) and the MAD modified z (q213):
    quartile-based, so it tolerates up to 25% contamination and needs
    no distribution assumption, and it is what every boxplot
    visualizes, so the engine-side numbers must match the chart.
    Fences in pure integer arithmetic (1.5·IQR as 3·IQR/2 with
    integer division — identical floor both engines on the micro-unit
    grid); quartiles exact discrete percentiles.

    Shape: q213's two-pass pattern — percentile pass, 1-broadcast
    fence table, one conditional recount.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        quantise("value", 6).alias("v_u"),
    )

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v_u)")

    q = v.groupBy("event_type").agg(
        disc(0.25).cast("bigint").alias("q1"),
        disc(0.75).cast("bigint").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    f = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - F.floor(3 * iqr / 2)).cast("bigint").alias("lo"),
        (F.col("q3") + F.floor(3 * iqr / 2)).cast("bigint").alias("hi"),
    )
    return (
        v.join(F.broadcast(f), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("q1").cast("bigint").alias("q1_u"),
            F.max("q3").cast("bigint").alias("q3_u"),
            F.max("lo").cast("bigint").alias("fence_lo_u"),
            F.max("hi").cast("bigint").alias("fence_hi_u"),
            F.sum(
                ((F.col("v_u") < F.col("lo")) | (F.col("v_u") > F.col("hi")))
                .cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --- q315: autocorrelation function (Box-Jenkins diagnostics) -------------
_ACF_MAX_LAG = 24

_DUCK_ACF = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hr),
         grid AS (
      SELECT g.h, coalesce(hr.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
      LEFT JOIN hr USING (h)),
         m AS (SELECT sum(x) * 1.0 / count(*) AS mu,
                      count(*) AS n FROM grid),
         den AS (
      SELECT CAST(sum(CAST(round((x - m.mu) * (x - m.mu) * 1000000)
                           AS BIGINT)) AS BIGINT) AS d
      FROM grid CROSS JOIN m),
         lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS k),
         num AS (
      SELECT lags.k,
             CAST(sum(CAST(round((a.x - m.mu) * (b.x - m.mu) * 1000000)
                           AS BIGINT)) AS BIGINT) AS nm
      FROM grid a JOIN lags ON true
      JOIN grid b ON b.h = a.h + lags.k
      CROSS JOIN m
      GROUP BY lags.k)
    SELECT CAST(num.k AS BIGINT) AS lag,
           CAST(round(1000000.0 * num.nm / den.d) AS BIGINT) AS acf_e6
    FROM num CROSS JOIN den
    ORDER BY lag
"""


@register("q315_acf", _DUCK_ACF)
def q315_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1..{_ACF_MAX_LAG} over the
    hourly event-volume series (Box & Jenkins 1970 — THE model-
    identification diagnostic: a spike at lag 24 says daily
    seasonality, slow decay says trend/AR, which decides q259/q229's
    model family before fitting anything). Gaps in the hour grid are
    zero-filled so lags mean wall-clock hours, not observation ranks.

    Determinism: counts are integers, the mean is one ratio, and each
    (x_t - mu)(x_(t+k) - mu) product quantizes to 1e-6 units BEFORE
    the cross-series sums (the money policy on moments), making
    numerator and denominator order-free integer reductions.

    100 TB shape: the raw pass is one hour-keyed count; the grid,
    lag join (|hours| x {_ACF_MAX_LAG} rows), and moment sums all run
    on the bounded hourly table — at years of data that is still only
    ~10^4 rows. The lag join shuffles on the hour key; no window ever
    sees raw events."""
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the bounded (|hours|-row) rollup and grid: they feed
    # bounds/mean/denominator/lag-join consumers, and without the
    # checkpoints the corpus pass re-executed per consumer (audited:
    # 10 parquet scans of events in one plan).
    hr = materialize(
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = hr.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = materialize(
        bounds.select(F.explode(F.sequence("lo", "hi")).alias("h"))
        .join(hr, "h", "left")
        .select("h", F.coalesce("x", F.lit(0)).alias("x"))
    )
    m = grid.agg(
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("mu"),
    )
    gm = grid.crossJoin(F.broadcast(m))
    den = gm.agg(
        F.sum(
            quantise((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")), 6)
        )
        .cast("bigint")
        .alias("d")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = gm.select("h", "x", "mu")
    b = grid.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(
                quantise((F.col("x") - F.col("mu")) * (F.col("xb") - F.col("mu")), 6)
            )
            .cast("bigint")
            .alias("nm")
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("bigint").alias("lag"),
            F.round(1000000.0 * F.col("nm") / F.col("d"))
            .cast("bigint")
            .alias("acf_e6"),
        )
        .orderBy("lag")
    )


# --- q316: discrete spectral power at candidate seasonal periods ----------
_SPECTRAL_PERIODS = (24, 168, 37)  # daily, weekly, non-harmonic control

_DUCK_SPECTRAL = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         bounds AS (SELECT min(h) AS lo FROM hr),
         t AS (SELECT h - bounds.lo AS t, x FROM hr CROSS JOIN bounds),
         m AS (SELECT sum(x) * 1.0 / count(*) AS mu, count(*) AS n FROM t),
         periods AS (SELECT unnest([{", ".join(str(p) for p in _SPECTRAL_PERIODS)}]) AS p),
         terms AS (
      SELECT periods.p,
             CAST(sum(CAST(round((t.x - m.mu)
                   * cos(2 * pi() * t.t / periods.p) * 1000000)
                   AS BIGINT)) AS BIGINT) AS sc,
             CAST(sum(CAST(round((t.x - m.mu)
                   * sin(2 * pi() * t.t / periods.p) * 1000000)
                   AS BIGINT)) AS BIGINT) AS ss
      FROM t CROSS JOIN periods CROSS JOIN m
      GROUP BY periods.p)
    SELECT CAST(terms.p AS BIGINT) AS period_hours,
           CAST(round((sc * sc + ss * ss) * 1.0 / (1000000.0 * 1000000.0)
                      / m.n) AS BIGINT) AS power_n
    FROM terms CROSS JOIN m
    ORDER BY period_hours
"""


@register("q316_spectral_power", _DUCK_SPECTRAL)
def q316_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete spectral power at CANDIDATE seasonal periods (the
    Goertzel/periodogram probe — Schuster 1898): P(omega) =
    [sum (x_t - mu) cos(omega t)]^2 + [sum ... sin]^2, evaluated only
    at the periods worth testing (24 h daily, 168 h weekly, 37 h as
    the non-harmonic control that should score near zero) instead of
    a full FFT — the right tool when the question is 'is there a
    daily cycle?' rather than 'what is the spectrum?'.

    Determinism: each cos/sin term quantizes to 1e-6 units before the
    order-free integer sum; the squares and normalization are scalar.

    100 TB shape: the only data pass is the hourly count; the probe
    costs |hours| x |periods| narrow rows and one bounded aggregate.
    A full 10^5-bin FFT would need the same hour table — this plan is
    the degenerate-k case that answers the actual question."""
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the bounded hour table: it feeds the origin bound,
    # the mean, and the probe terms — without it the corpus rollup
    # re-ran per consumer (audited: 4 parquet scans of events; now 1).
    hr = materialize(
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = hr.agg(F.min("h").alias("lo"))
    t = hr.crossJoin(F.broadcast(bounds)).select(
        (F.col("h") - F.col("lo")).alias("t"), "x"
    )
    m = t.agg(
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in _SPECTRAL_PERIODS], "p long"
    )
    tm = t.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(periods))
    ang = 2 * 3.141592653589793 * F.col("t") / F.col("p")
    terms = tm.groupBy("p").agg(
        F.sum(quantise((F.col("x") - F.col("mu")) * F.cos(ang), 6))
        .cast("bigint")
        .alias("sc"),
        F.sum(quantise((F.col("x") - F.col("mu")) * F.sin(ang), 6))
        .cast("bigint")
        .alias("ss"),
        F.max(F.col("n")).alias("n"),
    )
    return terms.select(
        F.col("p").cast("bigint").alias("period_hours"),
        F.round(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            * 1.0
            / (1000000.0 * 1000000.0)
            / F.col("n")
        )
        .cast("bigint")
        .alias("power_n"),
    ).orderBy("period_hours")


# --- q330: Theil-Sen robust trend (round 6) --------------------------------
_DUCK_THEILSEN = """
    WITH day AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d0 AS (SELECT min(d) AS d0 FROM day),
         t AS (SELECT d - d0.d0 AS t, rev_c FROM day CROSS JOIN d0),
         slopes AS (
      SELECT CAST(round(1000000.0 * (b.rev_c - a.rev_c) / (b.t - a.t))
                  AS BIGINT) AS slope_u
      FROM t a JOIN t b ON a.t < b.t)
    SELECT CAST((SELECT count(*) FROM t) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs,
           CAST((SELECT quantile_disc(slope_u, 0.5) FROM slopes) AS BIGINT)
             AS theilsen_slope_u,
           CAST((SELECT quantile_disc(rev_c, 0.5) FROM t) AS BIGINT)
             AS median_rev_c
"""


@register("q330_theil_sen_trend", _DUCK_THEILSEN)
def q330_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily purchase revenue (Theil 1950;
    Sen JASA 1968): the MEDIAN of all pairwise day-to-day slopes — a
    29%-breakdown-point trend estimator that one outlier day cannot
    move, where q252/q289's OLS slope chases it. The all-pairs join
    is CALENDAR-BOUNDED (the day grid, not events: y years of data is
    ~(365y)^2/2 pairs — 6.7M at a decade, trivially shuffleable), so
    the classic O(n^2) objection to Theil-Sen doesn't apply when the
    series is a daily rollup; slopes quantize to 1e-6 cents/day
    BEFORE the exact discrete median (q141's percentile contract).

    100 TB shape: ONE corpus pass builds the day table (map-side
    combined, checkpointed — it feeds the origin bound, the pair
    join's two sides, and the level median); everything after runs on
    the bounded grid."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400))
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(quantise("value", 2))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    d0 = day.agg(F.min("d").alias("d0"))
    t = materialize(day.crossJoin(F.broadcast(d0)).select(
        (F.col("d") - F.col("d0")).alias("t"), "rev_c"
    ))
    a = t.select(F.col("t").alias("ta"), F.col("rev_c").alias("ra"))
    b = t.select(F.col("t").alias("tb"), F.col("rev_c").alias("rb"))
    slopes = a.join(b, F.col("ta") < F.col("tb")).select(
        F.round(
            1000000.0 * (F.col("rb") - F.col("ra")) / (F.col("tb") - F.col("ta"))
        )
        .cast("bigint")
        .alias("slope_u")
    )
    stats = slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_u)")
        .cast("bigint")
        .alias("theilsen_slope_u"),
    )
    lvl = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_c)")
        .cast("bigint")
        .alias("median_rev_c"),
    )
    return lvl.crossJoin(F.broadcast(stats)).select(
        "n_days", "n_pairs", "theilsen_slope_u", "median_rev_c"
    )


# --- q352: classical seasonal decomposition (round 6) ----------------------
_DECOMP_P = 24  # period: daily cycle over the hourly series

_DUCK_DECOMP = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         b AS (SELECT min(h) AS h0 FROM hr),
         t AS (SELECT h - b.h0 AS t, CAST(x AS BIGINT) AS x
               FROM hr CROSS JOIN b),
         trend AS (
      SELECT t, x,
             CASE WHEN count(*) OVER w = {_DECOMP_P} + 1
                  THEN CAST(round((sum(x) OVER w
                        - (first_value(x) OVER w + last_value(x) OVER w)
                          / 2.0) * 1000.0 / {_DECOMP_P}) AS BIGINT)
             END AS trend_m
      FROM t
      WINDOW w AS (ORDER BY t RANGE BETWEEN {_DECOMP_P // 2} PRECEDING
                   AND {_DECOMP_P // 2} FOLLOWING)),
         detr AS (
      SELECT t % {_DECOMP_P} AS phase, x * 1000 - trend_m AS d_m
      FROM trend WHERE trend_m IS NOT NULL),
         seas AS (
      SELECT phase, CAST(round(avg(d_m)) AS BIGINT) AS seasonal_m
      FROM detr GROUP BY phase)
    SELECT CAST(phase AS BIGINT) AS phase_hour, seasonal_m,
           CAST(count(*) OVER () AS BIGINT) AS n_phases
    FROM seas ORDER BY phase_hour
"""


@register("q352_classical_decomposition", _DUCK_DECOMP)
def q352_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (Macaulay 1931; the
    'decompose()' every forecasting text opens with, and the
    explicit-trend complement of q284's seasonality STRENGTH): trend
    = centered 2x{_DECOMP_P}-term moving average over the zero-origin
    hourly series (endpoints half-weighted — the standard even-period
    correction), detrended values average by phase-of-day into the
    seasonal profile. The profile feeds anomaly baselines (q244) and
    tells Holt (q259) whether it needs the Winters seasonal term.

    Determinism: the MA is an exact integer expression (sum minus
    half the two endpoints, milli-quantized per window BEFORE
    detrending); phase means are integer-ratio rounds; incomplete
    windows (series edges) are excluded by the window-count guard in
    both engines identically.

    100 TB shape: one hour-keyed corpus rollup (checkpointed), a
    RANGE window over the bounded hour grid, a {_DECOMP_P}-row phase
    aggregate. The hour grid stays calendar-bounded at any corpus
    size — the q315/q316 contract."""
    ev = load_table(spark, sf_dir, "events")
    hr = materialize(
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    b = hr.agg(F.min("h").alias("h0"))
    t = hr.crossJoin(F.broadcast(b)).select(
        (F.col("h") - F.col("h0")).alias("t"), "x"
    )
    w = (
        Window.orderBy("t")
        .rangeBetween(-(_DECOMP_P // 2), _DECOMP_P // 2)
    )
    trend = t.select(
        "t",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == _DECOMP_P + 1,
            F.round(
                (
                    F.sum("x").over(w)
                    - (
                        F.first("x").over(w) + F.last("x").over(w)
                    )
                    / 2.0
                )
                * 1000.0
                / _DECOMP_P
            ).cast("bigint"),
        ).alias("trend_m"),
    )
    detr = trend.filter(F.col("trend_m").isNotNull()).select(
        (F.col("t") % _DECOMP_P).alias("phase"),
        (F.col("x") * 1000 - F.col("trend_m")).alias("d_m"),
    )
    seas = detr.groupBy("phase").agg(
        F.round(F.avg("d_m")).cast("bigint").alias("seasonal_m")
    )
    return seas.select(
        F.col("phase").cast("bigint").alias("phase_hour"),
        "seasonal_m",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias(
            "n_phases"
        ),
    ).orderBy("phase_hour")


# --- q362: Mann-Kendall trend test (round 6) --------------------------------
_DUCK_MK = """
    WITH day AS (
      SELECT event_type,
             CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
         s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
      FROM day a JOIN day b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY 1),
         n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM day GROUP BY 1),
         ties AS (
      SELECT event_type,
             CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, x, count(*) AS c FROM day GROUP BY 1, 2) g
      GROUP BY 1),
         v AS (
      SELECT n.event_type, n.n, s.s,
             (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0 AS var_s
      FROM n JOIN s USING (event_type) JOIN ties USING (event_type))
    SELECT event_type, n AS n_days, s,
           CAST(round(1000.0 * var_s) AS BIGINT) AS var_s_milli,
           CAST(round(1000.0 * (CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                                     WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                                     ELSE 0.0 END)) AS BIGINT) AS z_milli,
           CAST(CASE WHEN s > 0 AND (s - 1) / sqrt(var_s) > 1.959964 THEN 1
                     WHEN s < 0 AND (s + 1) / sqrt(var_s) < -1.959964 THEN -1
                     ELSE 0 END AS BIGINT) AS trend
    FROM v ORDER BY event_type
"""


@register("q362_mann_kendall", _DUCK_MK)
def q362_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test per event type (Mann,
    Econometrica 1945; Kendall 1975), with the tie-corrected variance
    and continuity-corrected z — the standard companion to q330's
    Theil-Sen slope: Theil-Sen says HOW STEEP, Mann-Kendall says
    WHETHER the monotone trend is significant, using only signs, so a
    single outlier day cannot manufacture significance.

    Exactness: S is an integer sum of signs; the tie term and variance
    are rationals of integer counts — both engines compute sqrt/z from
    the same exact integers, quantized to milli.

    100 TB shape: identical to q330 — ONE corpus pass builds the
    (type, day) grid (map-side combined); the pairwise sign join runs
    on the CALENDAR-bounded grid (days^2/2 per type, ~6.7M pairs at a
    decade), and tie groups are an aggregate of the same grid. The
    grid is checkpointed once and feeds all three consumers."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400)
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    a = day.select("event_type", F.col("d").alias("da"), F.col("x").alias("xa"))
    b = day.select("event_type", F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, ["event_type"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    n = day.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        day.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return (
        n.join(s, "event_type")
        .join(ties, "event_type")
        .withColumn("var_s", var_s)
        .withColumn("z", z)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s",
            quantise("var_s", 3).alias("var_s_milli"),
            quantise("z", 3).alias("z_milli"),
            F.when((F.col("s") > 0) & (F.col("z") > 1.959964), 1)
            .when((F.col("s") < 0) & (F.col("z") < -1.959964), -1)
            .otherwise(0)
            .cast("bigint")
            .alias("trend"),
        )
        .orderBy("event_type")
    )


# --- q372: Ljung-Box portmanteau test (round 6) -----------------------------
_DUCK_LJUNGBOX = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hr),
         grid AS (
      SELECT g.h, coalesce(hr.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
      LEFT JOIN hr USING (h)),
         m AS (SELECT sum(x) * 1.0 / count(*) AS mu,
                      CAST(count(*) AS BIGINT) AS n FROM grid),
         den AS (
      SELECT CAST(sum(CAST(round((x - m.mu) * (x - m.mu) * 1000000)
                           AS BIGINT)) AS BIGINT) AS d
      FROM grid CROSS JOIN m),
         lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS k),
         num AS (
      SELECT lags.k,
             CAST(sum(CAST(round((a.x - m.mu) * (b.x - m.mu) * 1000000)
                           AS BIGINT)) AS BIGINT) AS nm
      FROM grid a JOIN lags ON true
      JOIN grid b ON b.h = a.h + lags.k
      CROSS JOIN m
      GROUP BY lags.k),
         terms AS (
      SELECT num.k,
             CAST(round(1000000000.0
                  * (num.nm * 1.0 / den.d) * (num.nm * 1.0 / den.d)
                  / (m.n - num.k)) AS BIGINT) AS t_n
      FROM num CROSS JOIN den CROSS JOIN m)
    SELECT m.n, CAST({_ACF_MAX_LAG} AS BIGINT) AS h_lags,
           CAST(round(m.n * (m.n + 2.0) * sum(terms.t_n) / 1000000.0)
                AS BIGINT) AS q_milli,
           CAST(CASE WHEN m.n * (m.n + 2.0) * sum(terms.t_n) / 1000000000.0
                  > 36.41503 THEN 1 ELSE 0 END AS BIGINT)
             AS reject_white_noise
    FROM terms CROSS JOIN m GROUP BY m.n
"""


@register("q372_ljung_box", _DUCK_LJUNGBOX)
def q372_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box, Biometrika 1978):
    Q = n(n+2) SUM rho_k^2/(n-k) over the first 24 hourly-count
    autocorrelations, vs chi-square(24) at 5% — the one-number answer
    to 'is this series white noise?' that q315's per-lag ACF table
    makes the analyst eyeball. Any hourly seasonality (q229/q284)
    rejects loudly.

    Exactness: reuses q315's quantized ACF contract (micro-integer
    numerator/denominator sums over the zero-filled calendar grid);
    each lag's rho^2/(n-k) term quantizes to nano before the 24-term
    pool, so the final double touch is one product of exact integers.

    100 TB shape: q315's — one corpus pass to the calendar-bounded
    hourly grid; the 24 lag joins run on the grid (shifted self-joins
    on a bounded table), and the pool is a 24-row reduction."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    bounds = hr.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = materialize(
        bounds.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
        )
        .join(hr, "h", "left")
        .select("h", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    m = grid.agg(
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cen = grid.crossJoin(F.broadcast(m))
    den = cen.agg(
        F.sum(
            quantise((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")), 6)
        )
        .cast("bigint")
        .alias("d")
    )
    lags = grid.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("k")
    )
    a = cen.select("h", "x", "mu")
    b = grid.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(
                quantise((F.col("x") - F.col("mu")) * (F.col("xb") - F.col("mu")), 6)
            )
            .cast("bigint")
            .alias("nm")
        )
    )
    terms = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(m))
        .select(
            "n",
            F.round(
                1000000000.0
                * (F.col("nm") * 1.0 / F.col("d"))
                * (F.col("nm") * 1.0 / F.col("d"))
                / (F.col("n") - F.col("k"))
            )
            .cast("bigint")
            .alias("t_n"),
        )
    )
    q = F.col("n") * (F.col("n") + 2.0) * F.col("st")
    return (
        terms.groupBy("n")
        .agg(F.sum("t_n").alias("st"))
        .select(
            "n",
            F.lit(_ACF_MAX_LAG).cast("bigint").alias("h_lags"),
            F.round(q / 1000000.0).cast("bigint").alias("q_milli"),
            F.when(q / 1000000000.0 > 36.41503, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("reject_white_noise"),
        )
    )


# --- q376: Hurst exponent by rescaled-range analysis (round 6) --------------
_HURST_WINDOWS = [8, 16, 32, 64, 128]

_DUCK_HURST = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hr),
         grid AS (
      SELECT g.h - b.lo AS t, CAST(coalesce(hr.x, 0) AS BIGINT) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
      CROSS JOIN bounds b LEFT JOIN hr ON hr.h = g.h),
         win AS (SELECT unnest(ARRAY{_HURST_WINDOWS}) AS n),
         blk AS (
      SELECT win.n, grid.t // win.n AS b, grid.t, grid.x
      FROM grid CROSS JOIN win),
         bm AS (
      SELECT n, b, sum(x) * 1.0 / count(*) AS mu,
             count(*) AS cnt
      FROM blk GROUP BY n, b),
         full_blk AS (
      SELECT blk.n, blk.b, blk.t, blk.x, bm.mu
      FROM blk JOIN bm ON bm.n = blk.n AND bm.b = blk.b
      WHERE bm.cnt = blk.n),
         z AS (
      SELECT n, b, t, x, mu,
             sum(x - mu) OVER (PARTITION BY n, b ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zc
      FROM full_blk),
         rs AS (
      SELECT n, b,
             max(zc) - min(zc) AS r,
             sqrt(sum((x - mu) * (x - mu)) / count(*)) AS s
      FROM z GROUP BY n, b),
         rsq AS (
      SELECT n,
             CAST(round(1000000.0 * r / s) AS BIGINT) AS rs_u
      FROM rs WHERE s > 0),
         pern AS (
      SELECT n, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(round(sum(rs_u) * 1.0 / count(*)) AS BIGINT) AS rs_mean_u
      FROM rsq GROUP BY n),
         pts AS (
      SELECT n, n_blocks, rs_mean_u,
             log2(n) AS lx, log2(rs_mean_u / 1000000.0) AS ly
      FROM pern),
         fit AS (
      SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
               / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)) AS h
      FROM pts)
    SELECT CAST(pts.n AS BIGINT) AS window_n, pts.n_blocks, pts.rs_mean_u,
           CAST(round(1000000.0 * fit.h) AS BIGINT) AS hurst_e6
    FROM pts CROSS JOIN fit ORDER BY window_n
"""


@register("q376_hurst_rs", _DUCK_HURST)
def q376_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951;
    Mandelbrot & Wallis 1969): split the hourly count series into
    complete blocks of n in {8..128}, compute each block's range of
    mean-adjusted cumulative deviations over its stdev, and read H
    from the slope of log2 E[R/S] vs log2 n — H > 0.5 means
    long-range dependence (the persistence q315's fixed-lag ACF can
    hint at but not summarize), H ~ 0.5 is a memoryless series.

    Exactness: block means/stdevs are rationals of integer counts; the
    cumulative deviation is an ORDERED window sum (same sequence both
    engines); per-block R/S quantizes to micro before block averaging,
    and the log-log OLS runs on the 5-point quantized grid.

    100 TB shape: one corpus pass to the calendar-bounded hourly grid;
    the window-size explode multiplies the GRID (x5), not the corpus;
    block stats partition by (n, block) — frames of <= 128 rows, no
    global window. The 5-point fit is driver-free closed form."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = hr.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = materialize(
        bounds.select(
            "lo", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
        )
        .join(hr, "h", "left")
        .select(
            (F.col("h") - F.col("lo")).alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    win = grid.sparkSession.createDataFrame(
        [(int(n),) for n in _HURST_WINDOWS], "n long"
    )
    blk = grid.crossJoin(F.broadcast(win)).select(
        "n", (F.col("t") / F.col("n")).cast("bigint").alias("b"), "t", "x"
    )
    bm = blk.groupBy("n", "b").agg(
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("cnt"),
    )
    full_blk = blk.join(bm, ["n", "b"]).filter(F.col("cnt") == F.col("n"))
    wz = (
        Window.partitionBy("n", "b")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    z = full_blk.withColumn("zc", F.sum(F.col("x") - F.col("mu")).over(wz))
    rs = z.groupBy("n", "b").agg(
        (F.max("zc") - F.min("zc")).alias("r"),
        F.sqrt(
            F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")))
            / F.count(F.lit(1))
        ).alias("s"),
    )
    rsq = rs.filter(F.col("s") > 0).select(
        "n",
        F.round(1000000.0 * F.col("r") / F.col("s")).cast("bigint").alias("rs_u"),
    )
    pern = rsq.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.round(F.sum("rs_u") * 1.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("rs_mean_u"),
    )
    pts = materialize(pern.select(
        "n",
        "n_blocks",
        "rs_mean_u",
        F.log2("n").alias("lx"),
        F.log2(F.col("rs_mean_u") / 1000000.0).alias("ly"),
    ))
    fit = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("ly"))
                - F.sum("lx") * F.sum("ly")
            )
            / (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("lx"))
                - F.sum("lx") * F.sum("lx")
            )
        ).alias("hh")
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("n").cast("bigint").alias("window_n"),
            "n_blocks",
            "rs_mean_u",
            quantise("hh", 6).alias("hurst_e6"),
        )
        .orderBy("window_n")
    )


# --- q381: Haar wavelet detail-energy spectrum (round 6) --------------------
_HAAR_LEVELS = 6  # dyadic scales 2h .. 64h

_DUCK_HAAR = f"""
    WITH hr AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS x
      FROM events GROUP BY 1),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hr),
         grid AS (
      SELECT g.h - b.lo AS t, CAST(coalesce(hr.x, 0) AS BIGINT) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
      CROSS JOIN bounds b LEFT JOIN hr ON hr.h = g.h),
         lev AS (SELECT unnest(generate_series(1, {_HAAR_LEVELS})) AS j),
         blk AS (
      SELECT lev.j, grid.t // (1 << lev.j) AS b,
             (grid.t // (1 << (lev.j - 1))) % 2 AS half,
             grid.x
      FROM grid CROSS JOIN lev),
         pairs AS (
      SELECT j, b,
             CAST(sum(CASE WHEN half = 0 THEN x ELSE 0 END) AS BIGINT) AS sl,
             CAST(sum(CASE WHEN half = 1 THEN x ELSE 0 END) AS BIGINT) AS sr,
             count(*) AS cnt
      FROM blk GROUP BY j, b),
         en AS (
      SELECT j,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CAST(round(1000.0 * (sl - sr) * (sl - sr)
                                 / (1 << j)) AS BIGINT)) AS BIGINT) AS e_m
      FROM pairs WHERE cnt = (1 << j) GROUP BY j)
    SELECT CAST(j AS BIGINT) AS level,
           CAST((1 << j) AS BIGINT) AS block_hours,
           n_blocks, e_m AS energy_milli,
           CAST(round(10000.0 * e_m / sum(e_m) OVER ()) AS BIGINT)
             AS energy_share_bp
    FROM en ORDER BY level
"""


@register("q381_haar_energy", _DUCK_HAAR)
def q381_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail-energy spectrum (Haar 1910; Percival &
    Walden, 'Wavelet Methods for Time Series Analysis' 2000) of the
    hourly event counts: at each dyadic scale 2^j hours, the detail
    energy sums (S_left - S_right)^2 / 2^j over complete blocks —
    WHERE the series' variance lives by time scale. The 16-32h levels
    light up for a daily cycle; q316's Fourier periodogram asks the
    same question with global sines, the Haar version localizes in
    time and needs only block sums.

    Exactness: block half-sums are exact integers; each block's energy
    quantizes to milli before the per-level sum; the share is one
    window over <=6 rows.

    100 TB shape: one corpus pass to the zero-filled calendar grid;
    the level explode multiplies the GRID x6; block stats are one
    aggregate keyed (level, block) — frames never exceed 64 rows and
    there is no global window except the 6-row share."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = hr.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = materialize(
        bounds.select(
            "lo", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
        )
        .join(hr, "h", "left")
        .select(
            (F.col("h") - F.col("lo")).alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    lev = grid.sparkSession.range(1, _HAAR_LEVELS + 1).select(
        F.col("id").cast("int").alias("j")
    )
    blk = grid.crossJoin(F.broadcast(lev)).select(
        "j",
        (F.col("t") / F.pow(F.lit(2.0), F.col("j")).cast("bigint"))
        .cast("bigint")
        .alias("b"),
        ((F.col("t") / F.pow(F.lit(2.0), F.col("j") - 1).cast("bigint"))
         .cast("bigint") % 2).alias("half"),
        "x",
    )
    pairs = blk.groupBy("j", "b").agg(
        F.sum(F.when(F.col("half") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sl"),
        F.sum(F.when(F.col("half") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sr"),
        F.count(F.lit(1)).alias("cnt"),
    )
    size = F.pow(F.lit(2.0), F.col("j")).cast("bigint")
    en = (
        pairs.filter(F.col("cnt") == size)
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(
                F.round(
                    1000.0
                    * (F.col("sl") - F.col("sr"))
                    * (F.col("sl") - F.col("sr"))
                    / size
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("e_m"),
        )
    )
    w = Window.partitionBy()
    return en.select(
        F.col("j").cast("bigint").alias("level"),
        F.pow(F.lit(2.0), F.col("j")).cast("bigint").alias("block_hours"),
        "n_blocks",
        F.col("e_m").alias("energy_milli"),
        F.round(10000.0 * F.col("e_m") / F.sum("e_m").over(w))
        .cast("bigint")
        .alias("energy_share_bp"),
    ).orderBy("level")


# --- q397: Durbin-Watson residual autocorrelation (round 6) -----------------
_DUCK_DW = """
    WITH day AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d0 AS (SELECT min(d) AS d0 FROM day),
         t AS (SELECT d - d0.d0 AS t, y_c FROM day CROSS JOIN d0),
         s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(y_c) AS BIGINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * y_c) AS HUGEINT) AS sty
      FROM t),
         fit AS (
      SELECT n,
             (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
               / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b
      FROM s),
         res AS (
      SELECT t.t,
             CAST(round(t.y_c
                        - ((s.sy - fit.b * s.st) / fit.n + fit.b * t.t))
                  AS BIGINT) AS e_c
      FROM t CROSS JOIN s CROSS JOIN fit),
         lagged AS (
      SELECT e_c, lag(e_c) OVER (ORDER BY t) AS e_prev FROM res),
         dw AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             sum(CAST(e_c AS HUGEINT) * e_c) AS see,
             sum(CASE WHEN e_prev IS NULL THEN CAST(0 AS HUGEINT)
                      ELSE CAST(e_c - e_prev AS HUGEINT) * (e_c - e_prev)
                  END) AS sdd
      FROM lagged)
    SELECT dw.n_days,
           CAST(round(1000.0 * fit.b) AS BIGINT) AS slope_cents_milli,
           CAST(round(1000.0 * CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE))
                AS BIGINT) AS dw_milli,
           CAST(round(1000.0 * (1.0 - CAST(sdd AS DOUBLE)
                                / CAST(see AS DOUBLE) / 2.0))
                AS BIGINT) AS rho_milli,
           CAST(CASE WHEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) < 1.5
                     THEN 1 ELSE 0 END AS BIGINT) AS positive_autocorr
    FROM dw CROSS JOIN fit
"""


@register("q397_durbin_watson", _DUCK_DW)
def q397_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson test for first-order autocorrelation of OLS
    residuals (Durbin & Watson, Biometrika 1950/51): detrend daily
    purchase revenue with the closed-form OLS line, then
    DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) over the day-ordered
    residuals. DW ~ 2(1 - rho); DW << 2 means the i.i.d.-error
    assumption behind q252/q289's OLS inference is false and their
    standard errors are too small — the diagnostic that decides
    whether a trend's significance can be trusted, complementing
    q372's Ljung-Box (which tests the raw series, not residuals).

    Exactness: OLS sums are exact integers (HUGEINT / decimal(38,0)
    squares); the slope/intercept doubles derive from the same exact
    integers in both engines (IEEE-deterministic); residuals quantize
    to integer CENTS before the lag-diff, so both quadratic forms are
    exact integer sums.

    100 TB shape: one map-side-combinable pass reduces the corpus to
    the calendar-bounded day grid (~365y rows); the OLS pass, the
    residual pass, and the single-partition lag window all run on that
    bounded grid (the q199/q330 parameter-server precedent — the
    window is NOT over the corpus)."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400))
            .cast("bigint")
            .alias("d")
        )
        .agg(F.sum(quantise("value", 2)).alias("y_c"))
        # the bounded day grid feeds every downstream pass: checkpoint
        # so the corpus aggregate runs ONCE (q296-class rule)
    )
    d0 = day.agg(F.min("d").alias("d0"))
    t = day.crossJoin(F.broadcast(d0)).select(
        (F.col("d") - F.col("d0")).alias("t"), "y_c"
    )
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
        F.sum("y_c").cast("bigint").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y_c")).alias("sty"),
    )
    b = (
        F.col("n") * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st")
    )
    fit = s.select("n", "st", "sy", b.alias("b"))
    res = t.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(
            F.col("y_c")
            - (
                (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
                + F.col("b") * F.col("t")
            )
        )
        .cast("bigint")
        .alias("e_c"),
        "b",
    )
    w = Window.partitionBy().orderBy("t")
    lagged = res.select("e_c", F.lag("e_c").over(w).alias("e_prev"), "b")
    dw_agg = lagged.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("e_c").cast("decimal(38,0)") * F.col("e_c")).alias("see"),
        F.sum(
            F.when(F.col("e_prev").isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise(
                (F.col("e_c") - F.col("e_prev")).cast("decimal(38,0)")
                * (F.col("e_c") - F.col("e_prev"))
            )
        ).alias("sdd"),
    )
    dw = F.col("sdd").cast("double") / F.col("see").cast("double")
    return dw_agg.select(
        "n_days",
        quantise("b", 3).alias("slope_cents_milli"),
        quantise(dw, 3).alias("dw_milli"),
        quantise(1.0 - dw / 2.0, 3).alias("rho_milli"),
        F.when(dw < 1.5, 1).otherwise(0).cast("bigint").alias("positive_autocorr"),
    )


# --- q401: single-changepoint detection via CUSUM argmax (round 6) ----------
_DUCK_CPT = """
    WITH day AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d0 AS (SELECT min(d) AS d0 FROM day),
         t AS (
      SELECT row_number() OVER (ORDER BY d) AS t, y_c
      FROM day CROSS JOIN d0),
         s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_c) AS BIGINT) AS tot,
             CAST(sum(CAST(y_c AS HUGEINT) * y_c) AS HUGEINT) AS sqq
      FROM t),
         cum AS (
      SELECT t, y_c,
             CAST(sum(y_c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c
      FROM t),
         dstat AS (
      SELECT cum.t, cum.c,
             abs(s.n * CAST(cum.c AS HUGEINT) - CAST(cum.t AS HUGEINT) * s.tot)
               AS absd
      FROM cum CROSS JOIN s WHERE cum.t < s.n),
         best AS (
      SELECT t, c, absd,
             row_number() OVER (ORDER BY absd DESC, t) AS rk
      FROM dstat)
    SELECT s.n AS n_days,
           best.t AS split_t,
           CAST(round(best.c * 1.0 / best.t) AS BIGINT) AS pre_mean_c,
           CAST(round((s.tot - best.c) * 1.0 / (s.n - best.t)) AS BIGINT)
             AS post_mean_c,
           CAST(round((s.tot - best.c) * 1.0 / (s.n - best.t)
                      - best.c * 1.0 / best.t) AS BIGINT) AS shift_c,
           CAST(round(1000.0 * CAST(best.absd AS DOUBLE)
                      / (s.n * sqrt((CAST(s.sqq AS DOUBLE)
                                     - CAST(s.tot AS DOUBLE) * s.tot / s.n)
                                    / s.n)
                         * sqrt(s.n))) AS BIGINT) AS cusum_stat_milli
    FROM best CROSS JOIN s WHERE best.rk = 1
"""


@register("q401_cusum_changepoint", _DUCK_CPT)
def q401_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection on daily purchase revenue: the
    first step of binary segmentation (Scott & Knott 1974; Page's
    CUSUM, Biometrika 1954) — split at argmax_t |S_t| where
    S_t = cum_t - t*mean, the point whose pre/post split most reduces
    squared error for a mean-shift model. Reports the split's pre/post
    means and the normalized statistic max|S_t|/(sd*sqrt(n)) (the
    Brownian-bridge scaling used for significance thresholds);
    recursing on each side yields full binary segmentation, each
    recursion a grid-bounded repeat of this plan.

    Exactness: the argmax compares |n*cum_t - t*total| — EXACT
    integers (no division before the argmax, so no float tie risk);
    row_number tie-break on earliest t; means/statistic are doubles
    from exact integers, quantized once.

    100 TB shape: one map-side pass to the calendar-bounded day grid;
    cumsum + argmax are single-partition windows over that grid (the
    q199/q397 parameter-server bound), never over the corpus."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400))
            .cast("bigint")
            .alias("d")
        )
        .agg(F.sum(quantise("value", 2)).alias("y_c"))
        # bounded day grid, multiple consumers: checkpoint (q296-class)
    )
    wt = Window.partitionBy().orderBy("d")
    t = day.select(F.row_number().over(wt).alias("t"), "y_c")
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y_c").cast("bigint").alias("tot"),
        F.sum(F.col("y_c").cast("decimal(38,0)") * F.col("y_c")).alias("sqq"),
    )
    wc = Window.partitionBy().orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = t.select("t", F.sum("y_c").over(wc).cast("bigint").alias("c"))
    dstat = (
        cum.crossJoin(F.broadcast(s))
        .filter(F.col("t") < F.col("n"))
        .select(
            "t",
            "c",
            "n",
            "tot",
            "sqq",
            F.abs(
                F.col("n") * F.col("c").cast("decimal(38,0)")
                - F.col("t").cast("decimal(38,0)") * F.col("tot")
            ).alias("absd"),
        )
    )
    wr = Window.partitionBy().orderBy(F.col("absd").desc(), "t")
    best = dstat.select(
        "*", F.row_number().over(wr).alias("rk")
    ).filter(F.col("rk") == 1)
    pre = F.col("c") * 1.0 / F.col("t")
    post = (F.col("tot") - F.col("c")) * 1.0 / (F.col("n") - F.col("t"))
    sd = F.sqrt(
        (
            F.col("sqq").cast("double")
            - F.col("tot").cast("double") * F.col("tot") / F.col("n")
        )
        / F.col("n")
    )
    return best.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("split_t"),
        F.round(pre).cast("bigint").alias("pre_mean_c"),
        F.round(post).cast("bigint").alias("post_mean_c"),
        F.round(post - pre).cast("bigint").alias("shift_c"),
        F.round(
            1000.0
            * F.col("absd").cast("double")
            / (F.col("n") * sd * F.sqrt(F.col("n")))
        )
        .cast("bigint")
        .alias("cusum_stat_milli"),
    )


# --- q405: Kalman local-level filter (round 6) ------------------------------
_KALMAN_DAYS = 40  # cap on the unrolled day-grain recursion (q259 contract)


def _kalman_oracle() -> str:
    """DuckDB oracle for q405: the SAME per-step-quantized Kalman
    recurrence as the driver-side loop, unrolled as a recursive CTE
    over the bounded day series. State is re-quantized to integer
    cents / cents^2 after EVERY step (floor(x + 0.5)), so both
    engines carry identical integers and the gain doubles they derive
    are bit-equal."""
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         idx AS MATERIALIZED (
      SELECT y_c, row_number() OVER (ORDER BY d) AS i FROM daily
      QUALIFY i <= {_KALMAN_DAYS}),
         consts AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             greatest(CAST(floor(
               (sum(CAST(y_c AS HUGEINT) * y_c) * 1.0 / count(*)
                - (sum(y_c) * 1.0 / count(*)) * (sum(y_c) * 1.0 / count(*)))
               + 0.5) AS BIGINT), 1) AS r
      FROM idx),
         kal(i, a, p) AS (
      SELECT 1, (SELECT y_c FROM idx WHERE i = 1),
             (SELECT r FROM consts)
      UNION ALL
      SELECT k.i + 1,
             CAST(floor(k.a + (CAST(k.p + (c.r // 10) AS DOUBLE)
                               / (k.p + (c.r // 10) + c.r))
                              * (x.y_c - k.a) + 0.5) AS BIGINT),
             CAST(floor((1.0 - CAST(k.p + (c.r // 10) AS DOUBLE)
                               / (k.p + (c.r // 10) + c.r))
                        * (k.p + (c.r // 10)) + 0.5) AS BIGINT)
      FROM kal k JOIN idx x ON x.i = k.i + 1 CROSS JOIN consts c
      WHERE k.i < (SELECT n FROM consts)),
         last AS (SELECT a, p FROM kal ORDER BY i DESC LIMIT 1)
    SELECT CAST(c.n AS BIGINT) AS n_days,
           CAST(l.a AS BIGINT) AS level_c,
           CAST(l.p AS BIGINT) AS p_c2,
           CAST(round(1000.0 * CAST(l.p + (c.r // 10) AS DOUBLE)
                      / (l.p + (c.r // 10) + c.r)) AS BIGINT) AS gain_milli,
           CAST(l.a AS BIGINT) AS forecast_c
    FROM last l CROSS JOIN consts c
    """


@register("q405_kalman_local_level", _kalman_oracle())
def q405_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter for the local-level model (Kalman 1960; Harvey,
    "Forecasting, structural time series models and the Kalman
    filter", 1989) on daily purchase revenue: state a (level) and
    variance P, per day predict P+q then update with gain
    K = P_pred/(P_pred + r). Observation noise r = population
    variance of the series (one exact pre-pass), process noise
    q = r/10 (signal-to-noise 0.1) — unlike q126's fixed-alpha EWMA,
    the gain ADAPTS: large while P is uncertain, converging to the
    steady state, which is what makes the filter robust to the
    initial level.

    Exactness: the state is re-quantized to integer cents (a) and
    cents^2 (P) after EVERY step via floor(x + 0.5); gains are then
    doubles derived from identical integers in both engines, so the
    recursion never accumulates float divergence (q259's contract).

    100 TB shape: Spark reduces the corpus to the day-grain series
    (one calendar-bounded aggregate); the recurrence — sequential by
    nature, day-count-long, not data-long — runs driver-side against
    the <= 40-row series, step-matching the oracle's recursive CTE
    (the q222/q259 division of labor)."""
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(quantise("value", 2)).alias("y_c"))
        .orderBy("d")
        .limit(_KALMAN_DAYS)
    )
    ys = [int(r["y_c"]) for r in daily.collect()]
    n = len(ys)
    mean = sum(ys) * 1.0 / n
    # exact integer sum of squares FIRST, one double conversion after —
    # matching the oracle's sum(HUGEINT)*1.0 (per-term double products
    # would drift an ulp and flip the floor)
    r = max(
        int(math.floor((float(sum(y * y for y in ys)) / n - mean * mean) + 0.5)),
        1,
    )
    q_ = r // 10
    a, p = ys[0], r
    gain = 0.0
    for y in ys[1:]:
        p_pred = p + q_
        gain = float(p_pred) / (p_pred + r)
        a = int(math.floor(a + gain * (y - a) + 0.5))
        p = int(math.floor((1.0 - gain) * p_pred + 0.5))
    final_gain = float(p + q_) / (p + q_ + r)
    out = [(n, a, p, int(math.floor(1000.0 * final_gain + 0.5)), a)]
    return spark.createDataFrame(
        out, "n_days long, level_c long, p_c2 long, gain_milli long, forecast_c long"
    )


# --- q406: Cook's distance influence screening (round 6) --------------------
_COOK_TOP = 10
_DUCK_COOK = f"""
    WITH day AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d0 AS (SELECT min(d) AS d0 FROM day),
         t AS (SELECT d - d0.d0 AS t, y_c FROM day CROSS JOIN d0),
         s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(y_c) AS BIGINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * y_c) AS HUGEINT) AS sty
      FROM t),
         fit AS (
      SELECT n, st, sy,
             (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
               / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
             (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS sxx
      FROM s),
         res AS (
      SELECT t.t,
             CAST(round(t.y_c - ((f.sy - f.b * f.st) / f.n + f.b * t.t))
                  AS BIGINT) AS e_c,
             1.0 / f.n + (t.t - CAST(f.st AS DOUBLE) / f.n)
                         * (t.t - CAST(f.st AS DOUBLE) / f.n) / f.sxx AS h
      FROM t CROSS JOIN fit f),
         mse AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(e_c AS HUGEINT) * e_c) AS sse
      FROM res),
         cook AS (
      SELECT res.t, res.e_c,
             CAST(round(1000000.0 * res.h) AS BIGINT) AS lev_e6,
             CAST(round(1000000.0
                        * (CAST(res.e_c AS DOUBLE) * res.e_c
                           / (2.0 * (CAST(mse.sse AS DOUBLE) / (mse.n - 2))))
                        * (res.h / ((1.0 - res.h) * (1.0 - res.h))))
                  AS BIGINT) AS cook_e6
      FROM res CROSS JOIN mse)
    SELECT t, e_c, lev_e6, cook_e6,
           row_number() OVER (ORDER BY cook_e6 DESC, t) AS r
    FROM cook QUALIFY r <= {_COOK_TOP}
    ORDER BY r
"""


@register("q406_cooks_distance", _DUCK_COOK)
def q406_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence screening (Cook, Technometrics 1977)
    for the daily-revenue OLS trend: per day,
    D_i = e_i^2/(p*s^2) * h_i/(1-h_i)^2 with leverage
    h_i = 1/n + (t_i - tbar)^2/Sxx — the top-10 most INFLUENTIAL days,
    which is a different question from q287's outlier fences: a
    mid-series spike has high residual but low leverage; an endpoint
    drift has both, and it alone can steer q397's slope. Days with
    D > 4/n conventionally warrant a refit-without.

    Exactness: OLS sums exact; residuals quantize to integer cents
    before SSE (exact HUGEINT/decimal sum); leverage and D are
    IEEE-identical doubles from those integers, quantized to 1e-6;
    ranking breaks ties on day index.

    100 TB shape: the q397 template — one map-side pass to the day
    grid, two broadcast-scalar passes over it; the top-K is
    TakeOrderedAndProject on the grid. Nothing corpus-length."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400))
            .cast("bigint")
            .alias("d")
        )
        .agg(F.sum(quantise("value", 2)).alias("y_c"))
        # the bounded day grid feeds every downstream pass: checkpoint
        # so the corpus aggregate runs ONCE (q296-class rule)
    )
    d0 = day.agg(F.min("d").alias("d0"))
    t = day.crossJoin(F.broadcast(d0)).select(
        (F.col("d") - F.col("d0")).alias("t"), "y_c"
    )
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
        F.sum("y_c").cast("bigint").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y_c")).alias("sty"),
    )
    b = (
        F.col("n") * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st")
    )
    sxx = F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st") / F.col("n")
    fit = s.select("n", "st", "sy", b.alias("b"), sxx.alias("sxx"))
    res = t.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(
            F.col("y_c")
            - (
                (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
                + F.col("b") * F.col("t")
            )
        )
        .cast("bigint")
        .alias("e_c"),
        (
            1.0 / F.col("n")
            + (F.col("t") - F.col("st").cast("double") / F.col("n"))
            * (F.col("t") - F.col("st").cast("double") / F.col("n"))
            / F.col("sxx")
        ).alias("h"),
    )
    mse = res.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum(F.col("e_c").cast("decimal(38,0)") * F.col("e_c")).alias("sse"),
    )
    cook = res.crossJoin(F.broadcast(mse)).select(
        "t",
        "e_c",
        quantise("h", 6).alias("lev_e6"),
        F.round(
            1000000.0
            * (
                F.col("e_c").cast("double")
                * F.col("e_c")
                / (2.0 * (F.col("sse").cast("double") / (F.col("nn") - 2)))
            )
            * (F.col("h") / ((1.0 - F.col("h")) * (1.0 - F.col("h"))))
        )
        .cast("bigint")
        .alias("cook_e6"),
    )
    return (
        cook.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("cook_e6").desc(), "t"))
            .alias("r"),
        )
        .filter(F.col("r") <= _COOK_TOP)
        .orderBy("r")
    )


# --- q414: Holt-Winters additive seasonal smoothing (round 6) ---------------
_HW_DAYS = 35  # 5 whole weeks of the unrolled recursion
_HW_S = 7  # weekly seasonality


def _hw_oracle() -> str:
    """DuckDB oracle for q414: the SAME integer Holt-Winters
    recurrence as the driver loop, with the 7 seasonal states carried
    as a LIST column through the recursive CTE. All three updates are
    floor() of doubles built from exact integers (q259's contract):
    l' = floor((y - s_head + 3(l+b))/4), b' = floor((l'-l+7b)/8),
    s' = floor((y - l' + 3 s_head)/4); the list rotates left."""
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         idx AS MATERIALIZED (
      SELECT y_c, row_number() OVER (ORDER BY d) AS i FROM daily
      QUALIFY i <= {_HW_DAYS}),
         init AS MATERIALIZED (
      SELECT CAST(floor(avg(y_c) + 0.5) AS BIGINT) AS l0,
             list(y_c ORDER BY i) AS week1
      FROM idx WHERE i <= {_HW_S}),
         n AS MATERIALIZED (SELECT CAST(max(i) AS BIGINT) AS n FROM idx),
         hw(i, l, b, s) AS (
      SELECT {_HW_S}, l0, CAST(0 AS BIGINT),
             [CAST(y - l0 AS BIGINT) FOR y IN week1]
      FROM init
      UNION ALL
      SELECT h.i + 1,
             CAST(floor((x.y_c - h.s[1] + 3.0 * (h.l + h.b)) / 4.0)
                  AS BIGINT),
             CAST(floor((CAST(floor((x.y_c - h.s[1] + 3.0 * (h.l + h.b))
                                    / 4.0) AS BIGINT) - h.l + 7.0 * h.b)
                        / 8.0) AS BIGINT),
             list_append(h.s[2:],
               CAST(floor((x.y_c
                           - CAST(floor((x.y_c - h.s[1]
                                         + 3.0 * (h.l + h.b)) / 4.0)
                                  AS BIGINT)
                           + 3.0 * h.s[1]) / 4.0) AS BIGINT))
      FROM hw h JOIN idx x ON x.i = h.i + 1 CROSS JOIN n
      WHERE h.i < n.n),
         last AS (SELECT l, b, s FROM hw ORDER BY i DESC LIMIT 1)
    SELECT n.n AS n_days,
           CAST(l AS BIGINT) AS level_c,
           CAST(b AS BIGINT) AS trend_c,
           CAST(s[1] AS BIGINT) AS season_next_c,
           CAST(l + b + s[1] AS BIGINT) AS forecast_1_c
    FROM last CROSS JOIN n
    """


@register("q414_holt_winters", _hw_oracle())
def q414_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing (Winters, Mgmt.Sci.
    1960) on daily purchase revenue with weekly (s=7) seasonality —
    the completion of the q126 (level) → q259 (level+trend) ladder:
    a seasonal state per weekday lets the 1-day forecast anticipate
    the weekend dip that q259's linear trend smears. Gains are exact
    binary fractions (alpha=1/4, beta=1/8, gamma=1/4) and the state
    (level, trend, 7 seasonal components) is INTEGER cents after
    every step, so the recursion is bit-exact on both engines.
    Initialization: l0 = mean of week 1, b0 = 0, s_i = y_i - l0.

    100 TB shape: Spark reduces the corpus to the day-grain series
    (calendar-bounded aggregate); the recurrence — sequential,
    35 steps, 9 integers of state — runs driver-side, step-matching
    the oracle's recursive CTE whose seasonal vector rides a LIST
    column (the q259/q405 parameter-server contract)."""
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(quantise("value", 2)).alias("y_c"))
        .orderBy("d")
        .limit(_HW_DAYS)
    )
    ys = [int(r["y_c"]) for r in daily.collect()]
    n = len(ys)
    week1 = ys[:_HW_S]
    l0 = int(math.floor(sum(week1) / len(week1) + 0.5))
    l, b = l0, 0
    s = [y - l0 for y in week1]
    for y in ys[_HW_S:]:
        s_head = s[0]
        l_new = int(math.floor((y - s_head + 3.0 * (l + b)) / 4.0))
        b = int(math.floor((l_new - l + 7.0 * b) / 8.0))
        s = s[1:] + [int(math.floor((y - l_new + 3.0 * s_head) / 4.0))]
        l = l_new
    out = [(n, l, b, s[0], l + b + s[0])]
    return spark.createDataFrame(
        out,
        "n_days long, level_c long, trend_c long, season_next_c long, "
        "forecast_1_c long",
    )
