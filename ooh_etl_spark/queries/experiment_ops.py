"""Nineteenth coverage wave: experimentation & statistics finishing —
equi-depth histogram construction (the CBO statistics-collection
shape), click-through rates with Wilson score intervals (the A/B-test
readout that doesn't lie at small n), and time-to-convert percentiles.

All ratios/intervals compute from exact integers (counts, integer
seconds), so per-row float math is engine-identical; outputs quantize
to basis points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table

_BUCKETS = 10


@register(
    "q139_equi_depth_histogram",
    f"""
    WITH t AS (
      SELECT o_totalprice,
             ntile({_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def q139_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order values: 10 buckets of equal row
    count with their [lo, hi] boundaries — what ANALYZE TABLE computes
    for CBO selectivity estimation, and the right histogram for skewed
    money data (equi-WIDTH buckets would put 90% of rows in one bar).
    ntile's tie-break on o_orderkey makes bucket edges deterministic;
    at extreme cardinality the same statistic comes from
    percentile_approx boundaries instead of a global ntile sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    t = orders.select(
        "o_totalprice", F.ntile(_BUCKETS).over(w).alias("bucket")
    )
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


_Z = 1.96  # 95% interval


@register(
    "q140_wilson_ctr",
    f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS views
      FROM events GROUP BY day),
         w AS (
      SELECT day, clicks, views,
             clicks * 1.0 / (clicks + views) AS p,
             clicks + views AS n
      FROM d)
    SELECT strftime(day, '%Y-%m-%d') AS day, clicks, views,
           CAST(round(10000 * p) AS BIGINT) AS ctr_bp,
           CAST(round(10000 *
             (p + {_Z} * {_Z} / (2 * n)
              - {_Z} * sqrt((p * (1 - p) + {_Z} * {_Z} / (4 * n)) / n))
             / (1 + {_Z} * {_Z} / n)) AS BIGINT) AS wilson_lower_bp
    FROM w ORDER BY day
    """,
)
def q140_wilson_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click-through rate with the Wilson score lower bound
    (Wilson, JASA 1927 — the interval that stays honest at small n,
    unlike the normal approximation): the A/B-test readout shape. All
    inputs are integer counts from one conditional aggregate; the
    interval formula is per-row double math over those exact integers,
    so both engines agree bit-for-bit before basis-point rounding."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("views"),
    )
    p = F.col("clicks") * 1.0 / (F.col("clicks") + F.col("views"))
    n = F.col("clicks") + F.col("views")
    z2 = _Z * _Z
    wilson = (
        p + z2 / (2 * n) - _Z * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
    ) / (1 + z2 / n)
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "clicks",
        "views",
        quantise(p, 4).alias("ctr_bp"),
        quantise(wilson, 4).alias("wilson_lower_bp"),
    ).orderBy("day")


@register(
    "q141_time_to_convert",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
         p AS (
      SELECT s.user_id,
             CAST(date_diff('second', s.signup_ts, min(e.ts)) AS BIGINT) AS delay_s
      FROM s JOIN events e ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_ts)
    SELECT count(*) AS n_converted,
           CAST(quantile_disc(delay_s, 0.25) AS BIGINT) AS p25_s,
           CAST(quantile_disc(delay_s, 0.50) AS BIGINT) AS p50_s,
           CAST(quantile_disc(delay_s, 0.75) AS BIGINT) AS p75_s
    FROM p
    """,
)
def q141_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: quartiles of the signup→first-
    purchase delay in integer seconds. Delays are per-user reduces
    (q97's funnel chain); discrete percentiles over INTEGER seconds
    are engine-exact with no quantization at all — the cleanest
    latency-percentile shape."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(
            (
                F.unix_timestamp(F.min("ts")) - F.unix_timestamp(F.col("signup_ts"))
            )
            .cast("bigint")
            .alias("delay_s")
        )
    )

    def disc(q: float) -> F.Column:
        return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY delay_s)")

    return p.agg(
        F.count(F.lit(1)).alias("n_converted"),
        disc(0.25).cast("bigint").alias("p25_s"),
        disc(0.50).cast("bigint").alias("p50_s"),
        disc(0.75).cast("bigint").alias("p75_s"),
    )


_K_ANON = 5


@register(
    "q142_k_anonymity",
    f"""
    WITH classes AS (
      SELECT lang, source, count(*) AS class_size,
             count(DISTINCT n_chars) AS l_diversity
      FROM documents GROUP BY lang, source)
    SELECT lang, source, CAST(class_size AS BIGINT) AS class_size,
           CAST(l_diversity AS BIGINT) AS l_diversity,
           CAST(CASE WHEN class_size < {_K_ANON} THEN 1 ELSE 0 END AS BIGINT)
             AS violates_k
    FROM classes
    ORDER BY lang, source
    """,
)
def q142_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: k-anonymity (Sweeney, IJUFKS 2002) over the
    (lang, source) quasi-identifier pair — equivalence classes smaller
    than k=5 are re-identification risks — plus l-diversity (Machanava-
    jjhala et al., ICDE'06) of the sensitive attribute within each
    class. One aggregate over the quasi-identifier key; the release
    decision (suppress/generalize small classes) is a follow-up filter
    on this audit table. Complements q71's PII redaction."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.countDistinct("n_chars").cast("bigint").alias("l_diversity"),
        )
        .select(
            "lang",
            "source",
            "class_size",
            "l_diversity",
            F.when(F.col("class_size") < _K_ANON, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("violates_k"),
        )
        .orderBy("lang", "source")
    )


_CAMPAIGNS = [
    ("launch", "2024-01-05", "2024-01-12"),
    ("mid_month", "2024-01-14", "2024-01-18"),
    ("closing", "2024-01-25", "2024-02-01"),
]

_DUCK_CAMPAIGNS = ", ".join(
    f"('{n}', TIMESTAMP '{a}', TIMESTAMP '{b}')" for n, a, b in _CAMPAIGNS
)


@register(
    "q143_interval_overlap",
    f"""
    WITH sessions AS (
      SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
      FROM events GROUP BY user_id,
           CAST(floor(date_diff('second', TIMESTAMP '2024-01-01', ts)
                      / 86400.0) AS BIGINT)),
         campaigns(name, c_start, c_end) AS (VALUES {_DUCK_CAMPAIGNS})
    SELECT name,
           count(*) AS n_overlapping_sessions,
           count(DISTINCT user_id) AS n_users
    FROM campaigns JOIN sessions
      ON s_start < c_end AND s_end >= c_start
    GROUP BY name
    ORDER BY name
    """,
)
def q143_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user daily activity intervals
    (min/max ts within each day) matched against campaign windows by
    the half-open overlap predicate (start < end' AND end >= start') —
    the temporal-join shape behind campaign attribution and on-call
    scheduling. The campaign side is a literal 3-row table
    (broadcast); the interval side is pre-reduced to one row per
    (user, day) before the non-equi join, so the BNLJ fan-out is
    3x the reduced table, never 3x raw events."""
    ev = load_table(spark, sf_dir, "events")
    day_bucket = F.floor(
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        )
        / 86400.0
    ).cast("bigint")
    sessions = ev.groupBy("user_id", day_bucket.alias("day")).agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    campaigns = ev.sparkSession.createDataFrame(
        [(n, a, b) for n, a, b in _CAMPAIGNS], "name string, c_start string, c_end string"
    ).select(
        "name",
        F.col("c_start").cast("timestamp"),
        F.col("c_end").cast("timestamp"),
    )
    return (
        sessions.join(
            F.broadcast(campaigns),
            (F.col("s_start") < F.col("c_end")) & (F.col("s_end") >= F.col("c_start")),
        )
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n_overlapping_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("name")
    )


@register(
    "q144_zorder_clustering",
    """
    WITH k AS (
      SELECT CAST(l_partkey % 256 AS BIGINT) AS pa,
             CAST(l_suppkey % 256 AS BIGINT) AS sa
      FROM lineitem),
         z AS (
      SELECT pa, sa,
             (((pa >> 0) & 1) << 0) + (((sa >> 0) & 1) << 1) + (((pa >> 1) & 1) << 2) + (((sa >> 1) & 1) << 3) + (((pa >> 2) & 1) << 4) + (((sa >> 2) & 1) << 5) + (((pa >> 3) & 1) << 6) + (((sa >> 3) & 1) << 7) + (((pa >> 4) & 1) << 8) + (((sa >> 4) & 1) << 9) + (((pa >> 5) & 1) << 10) + (((sa >> 5) & 1) << 11) + (((pa >> 6) & 1) << 12) + (((sa >> 6) & 1) << 13) + (((pa >> 7) & 1) << 14) + (((sa >> 7) & 1) << 15) AS zval
      FROM k)
    SELECT CAST(zval // 256 AS BIGINT) AS z_bucket,
           count(*) AS n,
           CAST(min(pa) AS BIGINT) AS pa_lo, CAST(max(pa) AS BIGINT) AS pa_hi,
           CAST(min(sa) AS BIGINT) AS sa_lo, CAST(max(sa) AS BIGINT) AS sa_hi
    FROM z GROUP BY z_bucket ORDER BY z_bucket
    """,
)
def q144_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two join
    keys so that sorting by the single z-value co-locates rows that are
    close in BOTH dimensions — the layout trick behind Delta OPTIMIZE
    ZORDER and multi-dimensional min/max pruning. The per-bucket
    min/max spans of each dimension ARE the proof of locality: every
    256-wide z-bucket confines both pa and sa to a 16-wide range, so a
    predicate on either column can skip ~15/16 of sorted files. Pure
    integer bit arithmetic (shiftright/&/shiftleft), engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.select(
        (F.col("l_partkey") % 256).cast("bigint").alias("pa"),
        (F.col("l_suppkey") % 256).cast("bigint").alias("sa"),
    )
    z = k.withColumn("zval", F.expr("(((pa >> 0) & 1) << 0) + (((sa >> 0) & 1) << 1) + (((pa >> 1) & 1) << 2) + (((sa >> 1) & 1) << 3) + (((pa >> 2) & 1) << 4) + (((sa >> 2) & 1) << 5) + (((pa >> 3) & 1) << 6) + (((sa >> 3) & 1) << 7) + (((pa >> 4) & 1) << 8) + (((sa >> 4) & 1) << 9) + (((pa >> 5) & 1) << 10) + (((sa >> 5) & 1) << 11) + (((pa >> 6) & 1) << 12) + (((sa >> 6) & 1) << 13) + (((pa >> 7) & 1) << 14) + (((sa >> 7) & 1) << 15)"))
    return (
        z.groupBy(F.floor(F.col("zval") / 256).cast("bigint").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pa").cast("bigint").alias("pa_lo"),
            F.max("pa").cast("bigint").alias("pa_hi"),
            F.min("sa").cast("bigint").alias("sa_lo"),
            F.max("sa").cast("bigint").alias("sa_hi"),
        )
        .orderBy("z_bucket")
    )


# --- q184: CUPED variance reduction -------------------------------------
_CUPED_CUT = "2024-01-15"

_DUCK_CUPED = f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS pre_c,
             sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS post_c
      FROM events GROUP BY user_id),
         stats AS (
      SELECT count(*) AS n, sum(pre_c) AS sp, sum(post_c) AS so,
             sum(pre_c * post_c) AS spo, sum(pre_c * pre_c) AS spp
      FROM per_user),
         adj AS (
      SELECT p.arm, p.post_c,
             CAST(round((p.post_c
               - ((s.spo - s.sp * s.so / (s.n * 1.0))
                  / (s.spp - s.sp * s.sp / (s.n * 1.0)))
                 * (p.pre_c - s.sp / (s.n * 1.0))) * 10) AS BIGINT)
               AS adj_milli,
             CAST(round(((s.spo - s.sp * s.so / (s.n * 1.0))
                  / (s.spp - s.sp * s.sp / (s.n * 1.0))) * 1000000) AS BIGINT)
               AS theta_ppm
      FROM per_user p CROSS JOIN stats s)
    SELECT arm, count(*) AS n_users,
           CAST(round(sum(post_c) * 10.0 / count(*)) AS BIGINT)
             AS mean_post_milli,
           CAST(round(sum(adj_milli) * 1.0 / count(*)) AS BIGINT)
             AS mean_adj_milli,
           min(theta_ppm) AS theta_ppm
    FROM adj GROUP BY arm ORDER BY arm
"""


@register("q184_cuped_adjustment", _DUCK_CUPED)
def q184_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13):
    each user's experiment-period metric is adjusted by its
    pre-period metric, post' = post - theta*(pre - mean(pre)) with
    theta = cov(pre, post)/var(pre) — the covariate soaks up
    between-user variance so the A/B delta needs fewer samples. Arms
    are a deterministic key split; the cutoff splits the fixture's
    event month in half.

    Engine-exactness: pre/post are integer-cent sums; theta's
    numerator and denominator are built from EXACT bigint sums
    (sum(pre*post), sum(pre^2) — bounded well inside int64 at fixture
    magnitudes) with identical IEEE division order both engines, and
    each user's adjusted value quantizes to milli-cents before the arm
    mean, so the cross-user reduction stays order-free.

    100 TB shape: one user-keyed shuffle builds per_user; theta is a
    1-ROW broadcast (five exact sums); adjustment is a narrow per-row
    expression; the arm rollup is a 2-key agg with map-side partials.
    This is the entire CUPED pipeline — at production scale nothing
    changes but the calendar bounds. The docstring bound worth
    recording: sum(pre^2) overflows int64 once n * max_pre_c^2
    approaches 9.2e18 — at that point the stats sums (only) move to
    decimal(38,0), the money-policy wide accumulator."""
    events = load_table(spark, sf_dir, "events")
    cents = quantise("value", 2)
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0))).alias("pre_c"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0))).alias("post_c"),
    )
    stats = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").alias("sp"),
        F.sum("post_c").alias("so"),
        F.sum(F.col("pre_c") * F.col("post_c")).alias("spo"),
        F.sum(F.col("pre_c") * F.col("pre_c")).alias("spp"),
    )
    theta = (F.col("spo") - F.col("sp") * F.col("so") / (F.col("n") * 1.0)) / (
        F.col("spp") - F.col("sp") * F.col("sp") / (F.col("n") * 1.0)
    )
    adj = (
        per_user.crossJoin(F.broadcast(stats))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            "post_c",
            quantise(
                F.col("post_c")
                - theta * (F.col("pre_c") - F.col("sp") / (F.col("n") * 1.0)),
                1,
            )
            .alias("adj_milli"),
            quantise(theta, 6).alias("theta_ppm"),
        )
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("post_c") * 10.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_post_milli"),
            F.round(F.sum("adj_milli") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_adj_milli"),
            F.min("theta_ppm").alias("theta_ppm"),
        )
        .orderBy("arm")
    )


# --- q189: Freedman-Diaconis auto-binned histogram ----------------------
_DUCK_FD = """
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders),
         s AS (
      SELECT count(*) AS n,
             min(price_c) AS min_c,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY price_c) AS q1,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY price_c) AS q3
      FROM c),
         w AS (
      SELECT n, min_c,
             greatest(CAST(ceil(2.0 * (q3 - q1) / cbrt(n)) AS BIGINT), 1)
               AS width_c
      FROM s)
    SELECT (c.price_c - w.min_c) // w.width_c AS bin,
           min(w.min_c + ((c.price_c - w.min_c) // w.width_c) * w.width_c)
             / 100.0 AS bin_lo,
           count(*) AS n
    FROM c CROSS JOIN w
    GROUP BY 1 ORDER BY bin
"""


@register("q189_fd_histogram", _DUCK_FD)
def q189_fd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with the bin width CHOSEN BY THE DATA:
    Freedman & Diaconis 1981, width = 2*IQR/n^(1/3) — the robust
    auto-binning rule every profiler defaults to (robust because IQR,
    unlike range, ignores outliers). The IQR is an EXACT percentile
    over integer cents (percentile_disc — integers, so no
    interpolation and no float quantiles cross engines), the single
    cbrt/ceil runs on exact integer operands identically in both
    engines, and the bin id is pure integer arithmetic.

    100 TB shape: the stats pass is one aggregate producing a 1-ROW
    broadcast (exact percentiles at extreme scale swap to
    approx_percentile — the q72b/q139b twin pattern); binning is then
    a narrow map + a |bins|-key aggregate with map-side partials —
    the same two-pass shape as q114's winsorized mean."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(quantise("o_totalprice", 2).alias("price_c"))
    s = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("price_c").alias("min_c"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY price_c)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY price_c)").alias("q3"),
    )
    w = s.select(
        "n",
        "min_c",
        F.greatest(
            F.ceil(2.0 * (F.col("q3") - F.col("q1")) / F.cbrt(F.col("n"))).cast(
                "bigint"
            ),
            F.lit(1),
        ).alias("width_c"),
    )
    binned = c.crossJoin(F.broadcast(w)).select(
        F.expr("(price_c - min_c) DIV width_c").alias("bin"),
        F.expr("min_c + ((price_c - min_c) DIV width_c) * width_c").alias("lo_c"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            (F.min("lo_c") / 100.0).alias("bin_lo"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("bin")
    )


# --- q192: Welch's t over experiment arms -------------------------------
_DUCK_WELCH = """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CAST(round(value * 100) AS BIGINT)) AS metric_c
      FROM events GROUP BY user_id),
         s AS (
      SELECT arm, count(*) AS n, sum(metric_c) AS sx,
             sum(metric_c * metric_c) AS sxx
      FROM per_user GROUP BY arm),
         m AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.sx * 1.0 / a.n AS mean_a, b.sx * 1.0 / b.n AS mean_b,
             (a.sxx - a.sx * a.sx * 1.0 / a.n) / (a.n - 1) AS var_a,
             (b.sxx - b.sx * b.sx * 1.0 / b.n) / (b.n - 1) AS var_b
      FROM (SELECT * FROM s WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM s WHERE arm = 1) b)
    SELECT n_a, n_b,
           CAST(round(mean_a * 10) AS BIGINT) AS mean_a_milli,
           CAST(round(mean_b * 10) AS BIGINT) AS mean_b_milli,
           CAST(round(
             (mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b) * 1000000
           ) AS BIGINT) AS t_micro,
           CAST(round(
             pow(var_a / n_a + var_b / n_b, 2)
             / (pow(var_a / n_a, 2) / (n_a - 1)
                + pow(var_b / n_b, 2) / (n_b - 1))
           ) AS BIGINT) AS df_welch
    FROM m
"""


@register("q192_welch_t_test", _DUCK_WELCH)
def q192_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between the two experiment
    arms (Welch 1947), with the Welch-Satterthwaite effective degrees
    of freedom — the default two-sample test every experimentation
    platform reports next to the q140 Wilson interval and the q184
    CUPED adjustment. No p-value on purpose: that needs the t CDF,
    which Spark lacks as a builtin — the statistic + df pair is the
    engine's deliverable and the CDF lookup is a client-side constant
    table (the q140 precedent).

    Engine-exactness: per-arm n, sum(x), sum(x^2) are exact bigints
    (sum-of-squares headroom: n * max_metric_c^2 must stay inside
    int64 — the q184 bound, decimal(38,0) beyond); means, variances
    and the statistic are a fixed sequence of IEEE ops on those exact
    integers, quantized to micro/milli at the end.

    100 TB shape: one user-keyed shuffle, then a 2-row aggregate —
    the whole test is map-side partials + six numbers."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(quantise("value", 2)).alias("metric_c")
    )
    s = (
        per_user.select(
            (F.col("user_id") % 2).alias("arm"),
            "metric_c",
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("metric_c").alias("sx"),
            F.sum(F.col("metric_c") * F.col("metric_c")).alias("sxx"),
        )
    )
    a = s.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    b = s.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    m = a.crossJoin(b).select(
        "n_a",
        "n_b",
        (F.col("sx_a") * 1.0 / F.col("n_a")).alias("mean_a"),
        (F.col("sx_b") * 1.0 / F.col("n_b")).alias("mean_b"),
        (
            (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") * 1.0 / F.col("n_a"))
            / (F.col("n_a") - 1)
        ).alias("var_a"),
        (
            (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") * 1.0 / F.col("n_b"))
            / (F.col("n_b") - 1)
        ).alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    return m.select(
        "n_a",
        "n_b",
        quantise("mean_a", 1).alias("mean_a_milli"),
        quantise("mean_b", 1).alias("mean_b_milli"),
        quantise((F.col("mean_b") - F.col("mean_a")) / F.sqrt(se2), 6)
        .alias("t_micro"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
                + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
            )
        )
        .cast("bigint")
        .alias("df_welch"),
    )


# --- q193: Poisson bootstrap CI -----------------------------------------
_BOOT_R = 32  # replicates
#: Poisson(1) CDF cutoffs (exact double literals, identical when parsed
#: by Python, Spark and DuckDB): weight k iff u falls in bin k.
_POIS_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_TWO60 = float(1 << 60)


def _duck_pois_w(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"(CASE {branches} ELSE {len(_POIS_CUM)} END)"


_DUCK_BOOT = f"""
    WITH c AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders),
         rep AS (
      SELECT k, price_c, r.r,
             CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), '#',
                                                 CAST(r.r AS VARCHAR))), 1, 15))
                  AS BIGINT) / {_TWO60!r} AS u
      FROM c CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r) r),
         w AS (SELECT r, price_c, {_duck_pois_w('u')} AS w FROM rep),
         per_rep AS (
      SELECT r, CAST(round(sum(w * price_c) * 10.0 / sum(w)) AS BIGINT)
               AS mean_milli
      FROM w GROUP BY r),
         point AS (
      SELECT CAST(round(sum(price_c) * 10.0 / count(*)) AS BIGINT) AS pt
      FROM c)
    SELECT point.pt AS mean_milli,
           (SELECT percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_milli)
            FROM per_rep) AS ci_lo_milli,
           (SELECT percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_milli)
            FROM per_rep) AS ci_hi_milli,
           {_BOOT_R} AS n_replicates
    FROM point
"""


@register("q193_poisson_bootstrap", _DUCK_BOOT)
def q193_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value by the
    POISSON BOOTSTRAP (Chamandy, Muralidharan, Najmi & Naidu, Google
    2012): classical resampling needs n draws WITH replacement per
    replicate — a global operation no map-side pass can do — but each
    row's multiplicity in a replicate converges to Poisson(1), which
    IS per-row generable: every row carries R independent Poisson
    weights and each replicate is one weighted aggregate. That turns
    the bootstrap into a single narrow pass + an R-key aggregate with
    map-side partials — the only bootstrap that runs at 100 TB.

    Determinism: the uniform is a 60-bit md5 slice over (key, rep) —
    engine-identical (q178's primitive) — pushed through the exact
    Poisson(1) inverse CDF as literal double cutoffs; per-replicate
    means quantize to milli-cents; the CI is an exact percentile over
    the R=32 replicate means (order statistics of integers)."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderkey").alias("k"),
        quantise("o_totalprice", 2).alias("price_c"),
    )
    rep = c.select(
        "k",
        "price_c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("k"), F.col("r"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(_TWO60),
    )
    w_expr = F.lit(len(_POIS_CUM))
    for kk in range(len(_POIS_CUM) - 1, -1, -1):
        w_expr = F.when(F.col("u") < _POIS_CUM[kk], kk).otherwise(w_expr)
    per_rep = (
        rep.withColumn("w", w_expr)
        .groupBy("r")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("price_c")) * 10.0 / F.sum("w")
            )
            .cast("bigint")
            .alias("mean_milli")
        )
    )
    ci = per_rep.agg(
        F.expr("percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_milli)")
        .cast("bigint")
        .alias("ci_lo_milli"),
        F.expr("percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_milli)")
        .cast("bigint")
        .alias("ci_hi_milli"),
    )
    point = c.agg(
        F.round(F.sum("price_c") * 10.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mean_milli")
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "mean_milli",
        "ci_lo_milli",
        "ci_hi_milli",
        F.lit(_BOOT_R).alias("n_replicates"),
    )


@register(
    "q211_kaplan_meier",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
         m AS (SELECT max(ts) AS max_ts FROM events),
         p AS (
      SELECT s.user_id, min(e.ts) AS conv_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id),
         obs AS (
      SELECT s.user_id,
             CAST(FLOOR(date_diff('second', s.signup_ts,
                    coalesce(p.conv_ts, m.max_ts)) / 3600.0) AS BIGINT)
               AS t_h,
             CASE WHEN p.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM s LEFT JOIN p USING (user_id), m),
         km AS (
      SELECT t_h, sum(ev) AS d, sum(1 - ev) AS c
      FROM obs GROUP BY t_h),
         risk AS (
      SELECT t_h, d, c,
             (SELECT count(*) FROM obs)
               - coalesce(sum(d + c) OVER (ORDER BY t_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM km),
         fac AS (
      SELECT t_h, d, c, n_risk,
             CASE WHEN d = 0 THEN 0
                  WHEN d < n_risk THEN
                    CAST(round(1000000 * ln(CAST(n_risk - d AS DOUBLE)
                                            / n_risk)) AS BIGINT)
                  ELSE -99000000 END AS f_micro
      FROM risk)
    SELECT t_h,
           CAST(d AS BIGINT) AS d,
           CAST(c AS BIGINT) AS c,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(sum(f_micro) OVER (ORDER BY t_h) AS BIGINT)
             AS surv_log_micro
    FROM fac
    ORDER BY t_h
    """,
)
def q211_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    1958) over the signup→first-purchase funnel, with users who never
    convert RIGHT-CENSORED at the end of the observation window — the
    estimator that makes q141's time-to-convert honest when the study
    ends before everyone converts (dropping censored users biases
    conversion fast; KM credits them to every risk set they survived).

    Distributed shape: the per-user observation table is q141's funnel
    chain (two keyed aggregations + one broadcast 1-row max-ts frame);
    event times are bucketed to integer hours, so the KM life table is
    bounded by the study duration in hours at ANY corpus scale — the
    global ordered windows (risk-set countdown, cumulative log-
    survival) run over that bounded table, never corpus-scale rows
    (the q196 histogram-window contract). Survival is carried in
    integer micro-nats: each hazard factor ln((n−d)/n) evaluates on an
    exact integer ratio and is quantized per step BEFORE the cumulative
    sum (q187's precedent), so S(t) = exp(surv_log_micro/1e6) and the
    running reduction is order-free and engine-identical. A saturated
    risk set (d = n, survival hits zero) takes a −99 sentinel nats so
    log-space stays finite.
    """
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the per-user frames: `s` feeds the purchase join AND
    # the observation build, `obs` feeds the total count AND the life
    # table — without the checkpoints the funnel re-ran per consumer
    # (audited: 6 parquet scans of events in one plan; now 3).
    s = materialize(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    m = ev.agg(F.max("ts").alias("max_ts"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    obs = materialize(
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.floor(
                (
                    F.unix_timestamp(F.coalesce("conv_ts", "max_ts"))
                    - F.unix_timestamp("signup_ts")
                )
                / 3600.0
            )
            .cast("bigint")
            .alias("t_h"),
            F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    n_total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    km = obs.groupBy("t_h").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
    )
    # Life table is hour-bounded, never corpus-scale: global windows OK.
    w_prev = (
        Window.orderBy("t_h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = km.crossJoin(F.broadcast(n_total)).select(
        "t_h",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    fac = risk.select(
        "t_h",
        "d",
        "c",
        "n_risk",
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("d") < F.col("n_risk"),
            quantise(F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")), 6),
        )
        .otherwise(F.lit(-99000000))
        .alias("f_micro"),
    )
    w_cum = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, 0)
    return fac.select(
        "t_h",
        F.col("d").cast("bigint").alias("d"),
        F.col("c").cast("bigint").alias("c"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.sum("f_micro").over(w_cum).cast("bigint").alias("surv_log_micro"),
    ).orderBy("t_h")


_MSPRT_TAU2 = 2500.0  # mixing variance (cents^2): tau = 50 cents
_MSPRT_ALPHA = 0.05  # always-valid level; reject when logLambda >= ln(1/a)


@register(
    "q226_msprt_sequential",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, user_id % 2 AS arm,
             count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS sx,
             sum(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS sxx
      FROM events GROUP BY 1, 2),
         cum AS (
      SELECT d, arm,
             sum(n) OVER w AS n,
             sum(sx) OVER w AS sx,
             sum(sxx) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY arm ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         wide AS (
      SELECT a.d, a.n AS n_a, b.n AS n_b,
             a.sx * 1.0 / a.n AS mean_a, b.sx * 1.0 / b.n AS mean_b,
             (a.sxx - a.sx * a.sx * 1.0 / a.n) / (a.n - 1) AS var_a,
             (b.sxx - b.sx * b.sx * 1.0 / b.n) / (b.n - 1) AS var_b
      FROM (SELECT * FROM cum WHERE arm = 0) a
      JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.d = b.d
      WHERE a.n > 1 AND b.n > 1),
         lam AS (
      SELECT d, n_a, n_b,
             0.5 * ln((var_a / n_a + var_b / n_b)
                      / (var_a / n_a + var_b / n_b
                         + CAST({_MSPRT_TAU2!r} AS DOUBLE)))
             + (mean_b - mean_a) * (mean_b - mean_a)
               * CAST({_MSPRT_TAU2!r} AS DOUBLE)
               / (2.0 * (var_a / n_a + var_b / n_b)
                  * (var_a / n_a + var_b / n_b
                     + CAST({_MSPRT_TAU2!r} AS DOUBLE))) AS log_lambda
      FROM wide)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(round(1000000 * log_lambda) AS BIGINT)
             AS log_lambda_micro,
           CAST(CASE WHEN log_lambda >= ln(1.0 / {_MSPRT_ALPHA!r})
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM lam
    ORDER BY day
    """,
)
def q226_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring by mixture SPRT (Johari,
    Koomen, Pekelis & Walsh, KDD'17 — the 'peeking problem' fix):
    after every day, the normal-mixture likelihood ratio
    Λ = sqrt(se²/(se²+τ²))·exp(δ²τ²/(2·se²·(se²+τ²))) is recomputed
    from CUMULATIVE per-arm statistics; rejecting whenever Λ ≥ 1/α
    controls type-I error at α under continuous monitoring — q192's
    fixed-horizon Welch t is only valid at ONE pre-registered look.
    Emitted in log space (micro-nats) so the statistic never
    overflows; the decision threshold is ln(1/α).

    Shape: the corpus pass is one (day, arm) aggregate carrying exact
    integer (n, Σx, Σx²) in cents — the cumulative windows and the
    per-day likelihood ratio then run over the DAY-GRAIN table
    (bounded by the experiment's calendar length at any traffic
    volume). Every input to the double-precision formula is an exact
    integer, so both engines evaluate identical IEEE expressions
    (q192's contract, extended with one quantized output).
    """
    ev = load_table(spark, sf_dir, "events")
    vc = quantise("value", 2)
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("d"),
            (F.col("user_id") % 2).alias("arm"),
            vc.alias("vc"),
        )
        .groupBy("d", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vc").alias("sx"),
            F.sum(F.col("vc") * F.col("vc")).alias("sxx"),
        )
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "d",
        "arm",
        F.sum("n").over(w).alias("n"),
        F.sum("sx").over(w).alias("sx"),
        F.sum("sxx").over(w).alias("sxx"),
    )
    a = cum.filter(F.col("arm") == 0).select(
        "d", F.col("n").alias("n_a"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    b = cum.filter(F.col("arm") == 1).select(
        "d", F.col("n").alias("n_b"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    wide = a.join(b, "d").filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    mean_a = F.col("sx_a") * 1.0 / F.col("n_a")
    mean_b = F.col("sx_b") * 1.0 / F.col("n_b")
    var_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") * 1.0 / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") * 1.0 / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se2 = var_a / F.col("n_a") + var_b / F.col("n_b")
    tau2 = F.lit(_MSPRT_TAU2)
    log_lambda = 0.5 * F.log(se2 / (se2 + tau2)) + (mean_b - mean_a) * (
        mean_b - mean_a
    ) * tau2 / (2.0 * se2 * (se2 + tau2))
    import math

    return wide.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        quantise(log_lambda, 6).alias("log_lambda_micro"),
        (log_lambda >= math.log(1.0 / _MSPRT_ALPHA))
        .cast("bigint")
        .alias("rejected"),
    ).orderBy("day")


@register(
    "q227_quantile_treatment_effect",
    """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CAST(round(value * 100) AS BIGINT)) AS metric_c
      FROM events GROUP BY user_id),
         qq AS (
      SELECT arm,
             CAST(quantile_disc(metric_c, 0.1) AS BIGINT) AS p1,
             CAST(quantile_disc(metric_c, 0.2) AS BIGINT) AS p2,
             CAST(quantile_disc(metric_c, 0.3) AS BIGINT) AS p3,
             CAST(quantile_disc(metric_c, 0.4) AS BIGINT) AS p4,
             CAST(quantile_disc(metric_c, 0.5) AS BIGINT) AS p5,
             CAST(quantile_disc(metric_c, 0.6) AS BIGINT) AS p6,
             CAST(quantile_disc(metric_c, 0.7) AS BIGINT) AS p7,
             CAST(quantile_disc(metric_c, 0.8) AS BIGINT) AS p8,
             CAST(quantile_disc(metric_c, 0.9) AS BIGINT) AS p9
      FROM per_user GROUP BY arm),
         q AS (
      SELECT g.q AS pct, arm,
             CASE g.q WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 WHEN 4 THEN p4 WHEN 5 THEN p5 WHEN 6 THEN p6 WHEN 7 THEN p7 WHEN 8 THEN p8 WHEN 9 THEN p9 END AS v_c
      FROM qq, generate_series(1, 9) AS g(q))
    SELECT a.pct,
           a.v_c AS control_c,
           b.v_c AS treat_c,
           CAST(b.v_c - a.v_c AS BIGINT) AS qte_c
    FROM (SELECT * FROM q WHERE arm = 0) a
    JOIN (SELECT * FROM q WHERE arm = 1) b ON a.pct = b.pct
    ORDER BY a.pct
    """,
)
def q227_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (Koenker & Bassett 1978 applied to
    A/B readouts): the per-decile difference between the treatment and
    control metric distributions — the readout that catches effects a
    mean test (q192) averages away (e.g. treatment helps the p10 tail
    and hurts p90: ATE ~ 0, QTE curve shows both). Deciles are exact
    DISCRETE percentiles over integer cents (the q141 convention), so
    every output cell is engine-exact with no quantization at all.

    Shape: one per-user reduce (the corpus pass), then per-arm sorted
    percentile aggregation — percentile_disc shuffles each arm once;
    at extreme user counts the documented swap is approx_percentile
    with everything downstream unchanged. The decile join is a
    9-row x 9-row merge.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(quantise("value", 2)).alias("metric_c")
        )
        .select(
            (F.col("user_id") % 2).alias("arm"),
            "metric_c",
        )
    )

    def disc(q: int) -> F.Column:
        return F.expr(
            f"percentile_disc({q} / 10.0) WITHIN GROUP (ORDER BY metric_c)"
        ).cast("bigint")

    q = per_user.groupBy("arm").agg(
        *[disc(i).alias(f"p{i}") for i in range(1, 10)]
    )

    long = q.selectExpr(
        "arm",
        "stack(9, " + ", ".join(f"{i}, p{i}" for i in range(1, 10)) + ") AS (pct, v_c)",
    )
    a = long.filter(F.col("arm") == 0).select("pct", F.col("v_c").alias("control_c"))
    b = long.filter(F.col("arm") == 1).select("pct", F.col("v_c").alias("treat_c"))
    return (
        a.join(b, "pct")
        .select(
            F.col("pct").cast("bigint").alias("pct"),
            "control_c",
            "treat_c",
            (F.col("treat_c") - F.col("control_c")).cast("bigint").alias("qte_c"),
        )
        .orderBy("pct")
    )


@register(
    "q235_diff_in_differences",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events),
         tagged AS (
      SELECT user_id % 2 AS arm,
             CASE WHEN CAST(e.ts AS DATE) >=
                       b.lo + CAST(FLOOR(date_diff('day', b.lo, b.hi)
                                         / 2.0) AS INT)
                  THEN 1 ELSE 0 END AS post,
             CAST(round(e.value * 100) AS BIGINT) AS vc
      FROM events e CROSS JOIN bounds b),
         cell AS (
      SELECT arm, post, count(*) AS n, sum(vc) AS sx
      FROM tagged GROUP BY arm, post)
    SELECT CAST(t1.n AS BIGINT) AS n_treat_post,
           CAST(round(10.0 * t1.sx / t1.n) AS BIGINT) AS treat_post_m,
           CAST(round(10.0 * t0.sx / t0.n) AS BIGINT) AS treat_pre_m,
           CAST(round(10.0 * c1.sx / c1.n) AS BIGINT) AS ctrl_post_m,
           CAST(round(10.0 * c0.sx / c0.n) AS BIGINT) AS ctrl_pre_m,
           CAST(round(10.0 * ((t1.sx * 1.0 / t1.n - t0.sx * 1.0 / t0.n)
                              - (c1.sx * 1.0 / c1.n - c0.sx * 1.0 / c0.n)))
                AS BIGINT) AS did_m
    FROM (SELECT * FROM cell WHERE arm = 1 AND post = 1) t1
    CROSS JOIN (SELECT * FROM cell WHERE arm = 1 AND post = 0) t0
    CROSS JOIN (SELECT * FROM cell WHERE arm = 0 AND post = 1) c1
    CROSS JOIN (SELECT * FROM cell WHERE arm = 0 AND post = 0) c0
    """,
)
def q235_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (Card & Krueger 1994's workhorse —
    the quasi-experimental estimator when randomization isn't
    available): treatment and control arms each measured pre/post the
    calendar midpoint; DiD = (T_post − T_pre) − (C_post − C_pre)
    cancels both the persistent arm difference and the common time
    trend, leaving the treatment effect under the parallel-trends
    assumption. Complements q184 (CUPED needs randomization, DiD
    doesn't) and q226 (sequential monitoring of a true experiment).

    Engine-exact: the period boundary is pure DATE arithmetic off a
    1-row min/max broadcast (midpoint by integer floor-division of the
    day span); cell sums are exact integer cents; the four means and
    the DiD are identical IEEE expressions on exact ints, emitted in
    milli-cents. Shape: ONE (arm, period) aggregate over the scan
    (4 cells, map-side absorbed) after the broadcast bounds join.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(
            F.col("ts").cast("date")
            >= F.date_add(
                F.col("lo"),
                F.floor(F.datediff(F.col("hi"), F.col("lo")) / 2.0).cast("int"),
            ),
            1,
        )
        .otherwise(0)
        .alias("post"),
        quantise("value", 2).alias("vc"),
    )
    # checkpoint the 4-cell table: the four pick() consumers would
    # otherwise each re-run the corpus aggregate (audited: 8 parquet
    # scans of events in one plan).
    cell = materialize(tagged.groupBy("arm", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sx")
    ))

    def pick(arm: int, post: int, pre: str):
        return (
            cell.filter((F.col("arm") == arm) & (F.col("post") == post))
            .select(
                F.col("n").alias(f"{pre}_n"), F.col("sx").alias(f"{pre}_sx")
            )
        )

    t1, t0, c1, c0 = pick(1, 1, "t1"), pick(1, 0, "t0"), pick(0, 1, "c1"), pick(0, 0, "c0")
    j = t1.crossJoin(t0).crossJoin(c1).crossJoin(c0)
    m = lambda p: F.col(f"{p}_sx") * 1.0 / F.col(f"{p}_n")
    return j.select(
        F.col("t1_n").cast("bigint").alias("n_treat_post"),
        F.round(10.0 * F.col("t1_sx") / F.col("t1_n")).cast("bigint").alias("treat_post_m"),
        F.round(10.0 * F.col("t0_sx") / F.col("t0_n")).cast("bigint").alias("treat_pre_m"),
        F.round(10.0 * F.col("c1_sx") / F.col("c1_n")).cast("bigint").alias("ctrl_post_m"),
        F.round(10.0 * F.col("c0_sx") / F.col("c0_n")).cast("bigint").alias("ctrl_pre_m"),
        quantise((m("t1") - m("t0")) - (m("c1") - m("c0")), 1)
        .alias("did_m"),
    )


@register(
    "q266_minimum_detectable_effect",
    """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CAST(round(value * 100) AS BIGINT)) AS metric_c
      FROM events GROUP BY user_id),
         s AS (
      SELECT arm, count(*) AS n, sum(metric_c) AS sx,
             sum(metric_c * metric_c) AS sxx
      FROM per_user GROUP BY arm),
         m AS (
      SELECT a.n AS n_a, b.n AS n_b,
             (a.sxx - a.sx * a.sx * 1.0 / a.n) / (a.n - 1) AS var_a,
             (b.sxx - b.sx * b.sx * 1.0 / b.n) / (b.n - 1) AS var_b,
             (a.sx + b.sx) * 1.0 / (a.n + b.n) AS pooled_mean
      FROM (SELECT * FROM s WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM s WHERE arm = 1) b)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(round(2.8016 * sqrt(var_a / n_a + var_b / n_b) * 10)
                AS BIGINT) AS mde_abs_milli,
           CAST(round(10000.0 * 2.8016 * sqrt(var_a / n_a + var_b / n_b)
                      / pooled_mean) AS BIGINT) AS mde_rel_bp
    FROM m
    """,
)
def q266_minimum_detectable_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc minimum detectable effect — the experiment-design
    readout q192's t-test needs as a companion ('no significant
    effect' means nothing until you say what effect the sample COULD
    have detected): MDE = (z_{1−α/2} + z_{power})·SE with the
    standard α=0.05 / 80%-power constant 1.96 + 0.8416 = 2.8016 as an
    exact literal (no CDF evaluation anywhere — the q140/q192
    no-client-side-tables contract), reported absolute (milli-cents)
    and relative to the pooled mean (bp). An experiment whose
    observed lift is far below its own MDE was underpowered, not
    negative.

    Shape: q192's exact per-arm moment aggregate — one user reduce,
    one 2-row arm reduce, identical IEEE closed form on exact
    integers.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(quantise("value", 2)).alias("metric_c")
    ).select((F.col("user_id") % 2).alias("arm"), "metric_c")
    s = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric_c").alias("sx"),
        F.sum(F.col("metric_c") * F.col("metric_c")).alias("sxx"),
    )
    a = s.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    b = s.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    m = a.crossJoin(b)
    var_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") * 1.0 / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") * 1.0 / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se = F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    pooled = (F.col("sx_a") + F.col("sx_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        quantise(2.8016 * se, 1).alias("mde_abs_milli"),
        F.round(10000.0 * 2.8016 * se / pooled).cast("bigint").alias("mde_rel_bp"),
    )


@register(
    "q270_srm_check",
    """
    WITH arms AS (
      SELECT user_id % 2 AS arm, count(DISTINCT user_id) AS n
      FROM events GROUP BY 1),
         m AS (
      SELECT a.n AS n_a, b.n AS n_b
      FROM (SELECT n FROM arms WHERE arm = 0) a
      CROSS JOIN (SELECT n FROM arms WHERE arm = 1) b)
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(round(1000000.0 * (n_a - n_b) * (n_a - n_b)
                      / (n_a + n_b)) AS BIGINT) AS chi2_e6,
           CAST(CASE WHEN 1000000.0 * (n_a - n_b) * (n_a - n_b)
                          / (n_a + n_b) > 3841459
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
    FROM m
    """,
)
def q270_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check (Fabijan et al. 2019 — the FIRST
    gate every experiment readout must pass: if the 50/50 split
    didn't land 50/50 beyond chance, every downstream metric in
    q192/q226/q227 is invalid, usually from assignment or logging
    bugs): the 1-df chi-square against equal allocation simplifies to
    (n_a − n_b)²/(n_a + n_b), compared to the 3.841 critical value
    held as an exact literal (no CDF evaluation — the standing
    contract). Unit counting is DISTINCT users, not events, because
    SRM is about the randomization unit.

    Shape: one distinct-user-per-arm aggregate; the statistic is
    2-row arithmetic. This is deliberately the cheapest query in the
    registry — the point is that it must ALWAYS run first.
    """
    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.select((F.col("user_id") % 2).alias("arm"), "user_id")
        .distinct()
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = arms.filter(F.col("arm") == 0).select(F.col("n").alias("n_a"))
    b = arms.filter(F.col("arm") == 1).select(F.col("n").alias("n_b"))
    m = a.crossJoin(b)
    chi2 = (
        1000000.0
        * (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(chi2).cast("bigint").alias("chi2_e6"),
        (chi2 > 3841459).cast("bigint").alias("srm_alarm"),
    )


@register(
    "q271_ratio_metric_delta",
    """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS rev_c,
             count(*) AS n_ev
      FROM events GROUP BY user_id),
         s AS (
      SELECT arm, count(*) AS n,
             sum(rev_c) AS sx, sum(n_ev) AS sy,
             CAST(sum(CAST(rev_c AS DECIMAL(38,0))
                      * CAST(rev_c AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(n_ev AS DECIMAL(38,0))
                      * CAST(n_ev AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(sum(CAST(rev_c AS DECIMAL(38,0))
                      * CAST(n_ev AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM per_user GROUP BY arm),
         d AS (
      SELECT arm, n,
             sx * 1.0 / n AS mx, sy * 1.0 / n AS my,
             (sxx - sx * sx * 1.0 / n) / (n - 1) AS vx,
             (syy - sy * sy * 1.0 / n) / (n - 1) AS vy,
             (sxy - sx * sy * 1.0 / n) / (n - 1) AS cxy
      FROM s)
    SELECT arm,
           CAST(n AS BIGINT) AS n_users,
           CAST(round(10.0 * mx / my) AS BIGINT) AS ratio_milli,
           CAST(round(1000000.0 * (mx / my) * (mx / my) / n
                      * (vx / (mx * mx) + vy / (my * my)
                         - 2.0 * cxy / (mx * my))) AS BIGINT)
             AS var_ratio_e6
    FROM d
    ORDER BY arm
    """,
)
def q271_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method variance for a RATIO metric (Deng, Knoblich & Lu,
    KDD'18): revenue-per-event is a ratio of two per-user quantities,
    so its naive variance is wrong — user is the randomization unit
    and numerator/denominator covary; the delta method expands
    var(X̄/Ȳ) ≈ (μx/μy)²(vx/μx² + vy/μy² − 2cov/μxμy)/n, which is
    what q192-style tests must use on ratio metrics. Per-arm ratio
    (milli) and delta variance (1e-6) from exact per-user moments —
    cross-moments accumulate in DECIMAL(38,0) (the q252 lesson;
    rev_c² overflows int64 at fixture scale already), converting to
    double once.

    Shape: one per-user reduce, one per-arm moment reduce, closed
    form on the 2-row table.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                quantise("value", 2),
            ).otherwise(0)
        ).alias("rev_c"),
        F.count(F.lit(1)).alias("n_ev"),
    ).select((F.col("user_id") % 2).alias("arm"), "rev_c", "n_ev")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_c").alias("sx"),
        F.sum("n_ev").alias("sy"),
        F.sum(dec("rev_c") * dec("rev_c")).cast("double").alias("sxx"),
        F.sum(dec("n_ev") * dec("n_ev")).cast("double").alias("syy"),
        F.sum(dec("rev_c") * dec("n_ev")).cast("double").alias("sxy"),
    )
    mx = F.col("sx") * 1.0 / F.col("n")
    my = F.col("sy") * 1.0 / F.col("n")
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") * 1.0 / F.col("n")) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") * 1.0 / F.col("n")) / (F.col("n") - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") * 1.0 / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(10.0 * mx / my).cast("bigint").alias("ratio_milli"),
        F.round(
            1000000.0
            * (mx / my)
            * (mx / my)
            / F.col("n")
            * (vx / (mx * mx) + vy / (my * my) - 2.0 * cxy / (mx * my))
        )
        .cast("bigint")
        .alias("var_ratio_e6"),
    ).orderBy("arm")


@register(
    "q280_mann_whitney",
    """
    WITH v AS (
      SELECT user_id % 2 AS arm,
             CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events),
         hist AS (
      SELECT v_u,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS b
      FROM v GROUP BY v_u),
         cum AS (
      SELECT v_u, a, b,
             coalesce(sum(a) OVER (ORDER BY v_u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS a_below
      FROM hist),
         s AS (
      SELECT sum(a) AS na, sum(b) AS nb,
             CAST(sum(CAST(b AS DECIMAL(38,0))
                      * CAST(2 * a_below + a AS DECIMAL(38,0)))
                  AS DOUBLE) AS u2,
             CAST(sum(CAST(a + b AS DECIMAL(38,0))
                      * CAST(a + b AS DECIMAL(38,0))
                      * CAST(a + b AS DECIMAL(38,0))
                      - CAST(a + b AS DECIMAL(38,0))) AS DOUBLE) AS tie3
      FROM cum)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(round(u2 / 2.0) AS BIGINT) AS u_stat,
           CAST(round(1000000.0
             * (u2 / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0
                    * ((na + nb + 1.0)
                       - tie3 / ((na + nb) * (na + nb - 1.0)))))
             AS BIGINT) AS z_micro
    FROM s
    """,
)
def q280_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney / Wilcoxon rank-sum test with tie correction —
    the nonparametric two-sample default when q192's Welch t can't
    be trusted (heavy tails, ordinal metrics): U counts how often an
    arm-1 value beats an arm-0 value (ties half), computed over the
    SCORE HISTOGRAM with q196's doubled-integral trick (2U = Σ
    b·(2·A_below + a) stays an exact integer), and the normal
    approximation's variance carries the exact tie correction
    Σ(t³−t) accumulated in DECIMAL(38,0) (t³ overflows int64 on
    heavy-tie histograms). z in micro units; U itself emitted for
    exact-test consumers.

    Shape: ONE value-histogram aggregate over the scan; the rank
    machinery runs on the quantization-bounded histogram (q196's
    contract), never corpus rows.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        quantise("value", 6).alias("v_u"),
    )
    hist = v.groupBy("v_u").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("v_u").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "a",
        "b",
        F.coalesce(F.sum("a").over(w), F.lit(0)).alias("a_below"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    t = F.col("a") + F.col("b")
    s = cum.agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(dec(F.col("b")) * dec(2 * F.col("a_below") + F.col("a")))
        .cast("double")
        .alias("u2"),
        F.sum(dec(t) * dec(t) * dec(t) - dec(t)).cast("double").alias("tie3"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("u2") / 2.0
    var = (
        na * nb / 12.0
        * ((na + nb + 1.0) - F.col("tie3") / ((na + nb) * (na + nb - 1.0)))
    )
    return s.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(u).cast("bigint").alias("u_stat"),
        F.round(1000000.0 * (u - na * nb / 2.0) / F.sqrt(var))
        .cast("bigint")
        .alias("z_micro"),
    )


@register(
    "q283_cohens_d",
    """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CAST(round(value * 100) AS BIGINT)) AS metric_c
      FROM events GROUP BY user_id),
         s AS (
      SELECT arm, count(*) AS n, sum(metric_c) AS sx,
             sum(metric_c * metric_c) AS sxx
      FROM per_user GROUP BY arm),
         m AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.sx * 1.0 / a.n AS mean_a, b.sx * 1.0 / b.n AS mean_b,
             (a.sxx - a.sx * a.sx * 1.0 / a.n) AS ssa,
             (b.sxx - b.sx * b.sx * 1.0 / b.n) AS ssb
      FROM (SELECT * FROM s WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM s WHERE arm = 1) b)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(round(1000000.0 * (mean_b - mean_a)
                      / sqrt((ssa + ssb) / (n_a + n_b - 2.0)))
                AS BIGINT) AS cohens_d_e6
    FROM m
    """,
)
def q283_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d — the standardized effect size q192's t-statistic
    needs as a companion (t grows with √n; d = Δmean/pooled-SD does
    not, and the 0.2/0.5/0.8 small/medium/large benchmarks only apply
    to d). Pooled SD from exact per-arm (n, Σx, Σx²); the q192
    moment contract with one different closed form.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(quantise("value", 2)).alias("metric_c")
    ).select((F.col("user_id") % 2).alias("arm"), "metric_c")
    s = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric_c").alias("sx"),
        F.sum(F.col("metric_c") * F.col("metric_c")).alias("sxx"),
    )
    a = s.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa")
    )
    b = s.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb")
    )
    m = a.crossJoin(b)
    mean_a = F.col("sxa") * 1.0 / F.col("n_a")
    mean_b = F.col("sxb") * 1.0 / F.col("n_b")
    ssa = F.col("sxxa") - F.col("sxa") * F.col("sxa") * 1.0 / F.col("n_a")
    ssb = F.col("sxxb") - F.col("sxb") * F.col("sxb") * 1.0 / F.col("n_b")
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(
            1000000.0
            * (mean_b - mean_a)
            / F.sqrt((ssa + ssb) / (F.col("n_a") + F.col("n_b") - 2.0))
        )
        .cast("bigint")
        .alias("cohens_d_e6"),
    )


@register(
    "q289_novelty_effect_trend",
    """
    WITH wk AS (
      SELECT date_diff('week',
               (SELECT min(date_trunc('week', ts)) FROM events),
               date_trunc('week', ts)) AS w,
             user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
         cell AS (
      SELECT w, arm, count(*) AS n, sum(vc) AS sx
      FROM wk GROUP BY w, arm),
         eff AS (
      SELECT a.w AS w,
             b.sx * 1.0 / b.n - a.sx * 1.0 / a.n AS effect
      FROM (SELECT * FROM cell WHERE arm = 0) a
      JOIN (SELECT * FROM cell WHERE arm = 1) b ON b.w = a.w),
         s AS (
      SELECT count(*) AS k, sum(w) AS sw, sum(effect) AS se,
             sum(w * effect) AS swe, sum(w * w) AS sww
      FROM eff)
    SELECT CAST(k AS BIGINT) AS n_weeks,
           CAST(round(10.0 * se / k) AS BIGINT) AS mean_effect_milli,
           CAST(round(10.0 * (k * swe - sw * se) / (k * sww - sw * sw))
                AS BIGINT) AS trend_milli_per_week
    FROM s
    """,
)
def q289_novelty_effect_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-effect detector (Kohavi's checklist): the weekly
    treatment effect regressed on time — a negative slope means the
    lift is DECAYING (users reacting to newness, not value) and the
    steady-state effect is below the average q192 reports; a flat
    slope earns the effect trust. Per-week arm means from exact
    integer cells; the trend is q252's OLS closed form on the
    (week, effect) series — a CALENDAR-BOUNDED table, so the moment
    sums stay tiny and exact.

    Shape: one (week, arm) aggregate over the scan; everything after
    runs on ≤ weeks×2 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    wk0 = ev.agg(F.min(F.date_trunc("week", "ts")).alias("w0"))
    wk = ev.crossJoin(F.broadcast(wk0)).select(
        F.floor(
            (
                F.unix_timestamp(F.date_trunc("week", "ts"))
                - F.unix_timestamp("w0")
            )
            / (7 * 86400)
        )
        .cast("bigint")
        .alias("w"),
        (F.col("user_id") % 2).alias("arm"),
        quantise("value", 2).alias("vc"),
    )
    cell = materialize(wk.groupBy("w", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sx")
    ))  # weeks x 2 rows; feeds both arm projections
    # (the fact aggregate — including its min-week scan — ran twice)
    a = cell.filter(F.col("arm") == 0).select(
        "w", (F.col("sx") * 1.0 / F.col("n")).alias("ma")
    )
    b = cell.filter(F.col("arm") == 1).select(
        F.col("w").alias("wb"), (F.col("sx") * 1.0 / F.col("n")).alias("mb")
    )
    eff = a.join(b, a.w == F.col("wb")).select(
        "w", (F.col("mb") - F.col("ma")).alias("effect")
    )
    s = eff.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("w").alias("sw"),
        F.sum("effect").alias("se"),
        F.sum(F.col("w") * F.col("effect")).alias("swe"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
    )
    k = F.col("k")
    return s.select(
        k.cast("bigint").alias("n_weeks"),
        F.round(10.0 * F.col("se") / k).cast("bigint").alias("mean_effect_milli"),
        F.round(
            10.0
            * (k * F.col("swe") - F.col("sw") * F.col("se"))
            / (k * F.col("sww") - F.col("sw") * F.col("sw"))
        )
        .cast("bigint")
        .alias("trend_milli_per_week"),
    )


# --- q293: Bayes-UCB bandit allocation summary ---------------------------
_BANDIT_CONV = 50.0  # an event "converts" when its value clears this
_BANDIT_Q = 1.6449  # Phi^-1(0.95): the Bayes-UCB quantile (normal approx)

_DUCK_BANDIT = f"""
    WITH arms AS (
      SELECT event_type AS arm,
             count(*) AS n,
             CAST(sum(CASE WHEN value >= {_BANDIT_CONV} THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY 1),
         post AS (
      SELECT arm, n, conv,
             (1.0 + conv) / (2.0 + n) AS mean,
             (1.0 + conv) * (1.0 + n - conv)
               / ((2.0 + n) * (2.0 + n) * (3.0 + n)) AS var
      FROM arms)
    SELECT arm, CAST(n AS BIGINT) AS n, conv,
           CAST(round(1000000 * mean) AS BIGINT) AS post_mean_e6,
           CAST(round(1000000 * (mean + {_BANDIT_Q} * sqrt(var))) AS BIGINT)
             AS ucb_e6,
           CAST(row_number() OVER (
             ORDER BY mean + {_BANDIT_Q} * sqrt(var) DESC, arm)
             AS BIGINT) AS pull_priority
    FROM post ORDER BY pull_priority
"""


@register("q293_bayes_ucb_bandit", _DUCK_BANDIT)
def q293_bayes_ucb_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayes-UCB multi-armed-bandit allocation (Kaufmann, Cappe &
    Garivier, AISTATS 2012): each event type is an arm, a trial
    converts when its value clears a threshold, and the next-pull
    priority ranks arms by the 95th-percentile upper bound of the
    Beta(1+conv, 1+fail) posterior (normal approximation: mean +
    1.6449*sd). This is the deterministic index form of Thompson
    sampling — the engine-side half of a bandit loop, where the
    posterior summary is exact SQL and only the (stateless) arm pull
    happens outside.

    Determinism: conversions are integer counts, the posterior mean
    and variance are closed-form rationals of those counts evaluated
    identically in both engines, and outputs quantize to e6 before
    compare; rank ties break on arm name.

    100 TB shape: one map-side-combinable aggregate over the event
    stream (|arms| rows out), then O(|arms|) window math — the
    classic 'heavy aggregation, tiny decision table' pattern; the
    same rollup runs incrementally as a streaming aggregation with
    the posterior as the running state."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy(F.col("event_type").alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= _BANDIT_CONV, 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    mean = (1.0 + F.col("conv")) / (2.0 + F.col("n"))
    var = (
        (1.0 + F.col("conv"))
        * (1.0 + F.col("n") - F.col("conv"))
        / ((2.0 + F.col("n")) * (2.0 + F.col("n")) * (3.0 + F.col("n")))
    )
    ucb = mean + _BANDIT_Q * F.sqrt(var)
    post = arms.select(
        "arm",
        F.col("n").cast("bigint").alias("n"),
        "conv",
        quantise(mean, 6).alias("post_mean_e6"),
        quantise(ucb, 6).alias("ucb_e6"),
        F.row_number()
        .over(Window.orderBy(F.desc_nulls_last(ucb), F.col("arm")))
        .cast("bigint")
        .alias("pull_priority"),
    )
    return post.orderBy("pull_priority")


# --- q300: empirical-Bayes (beta-binomial) rate shrinkage ----------------
_DUCK_EB = """
    WITH seg AS (
      SELECT n.n_name AS segment,
             count(*) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1),
         prior AS (
      SELECT sum(conv) * 1.0 / sum(n) AS mu,
             avg((conv * 1.0 / n - (SELECT sum(conv) * 1.0 / sum(n) FROM seg))
                 * (conv * 1.0 / n - (SELECT sum(conv) * 1.0 / sum(n) FROM seg)))
               AS var_b
      FROM seg),
         m AS (
      SELECT mu,
             CASE WHEN var_b IS NULL OR var_b = 0 THEN 1.0
                  ELSE greatest(mu * (1.0 - mu) / var_b - 1.0, 1.0)
             END AS strength
      FROM prior)
    SELECT seg.segment, CAST(seg.n AS BIGINT) AS n, seg.conv,
           CAST(round(10000.0 * seg.conv / seg.n) AS BIGINT) AS raw_bp,
           CAST(round(10000.0 * (seg.conv + m.strength * m.mu)
                      / (seg.n + m.strength)) AS BIGINT) AS shrunk_bp
    FROM seg CROSS JOIN m
    ORDER BY seg.segment
"""


@register("q300_eb_rate_shrinkage", _DUCK_EB)
def q300_eb_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-segment rates (Efron & Morris
    JASA 1975; the beta-binomial method-of-moments form): small
    segments' urgent-order rates get pulled toward the pooled mean
    with prior strength m = mu(1-mu)/var_between - 1, large segments
    barely move — the estimator every per-segment dashboard should
    show instead of raw rates, where a 3-order segment at 100% would
    otherwise top the ranking. One segment aggregate, two scalar
    reductions, a 1-row cross join back.

    Exactness: counts are integers; mu, the between-segment variance,
    and the shrunk rates are identical closed-form doubles quantized
    to basis points.

    100 TB shape: the only full-data pass is the segment aggregate
    (joins broadcast the nation/customer dims — at TPC-H shapes the
    customer join shuffles, the classic star pattern q05 pins); prior
    fitting runs on the |segments|-row table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    seg = materialize(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("conv"),
        )
        # |segments| rows; feeds pooled mean,
        # between-variance, and the shrunk output — without it the
        # star join re-ran per consumer (audited: 3 scans per table)
    )
    pooled = seg.agg(
        (F.sum("conv") * 1.0 / F.sum("n")).alias("mu")
    )
    with_mu = seg.crossJoin(F.broadcast(pooled))
    prior = with_mu.agg(
        F.first("mu").alias("mu"),
        F.avg(
            (F.col("conv") * 1.0 / F.col("n") - F.col("mu"))
            * (F.col("conv") * 1.0 / F.col("n") - F.col("mu"))
        ).alias("var_b"),
    )
    # degenerate case (all segment rates identical -> var_b = 0):
    # IEEE inf (duckdb) vs NULL (spark ANSI div-by-zero) would diverge,
    # so both engines collapse it to strength = 1 explicitly.
    m = prior.select(
        "mu",
        F.when(
            F.col("var_b").isNull() | (F.col("var_b") == 0), F.lit(1.0)
        )
        .otherwise(
            F.greatest(
                F.col("mu") * (1.0 - F.col("mu")) / F.col("var_b") - 1.0,
                F.lit(1.0),
            )
        )
        .alias("strength"),
    )
    return (
        seg.crossJoin(F.broadcast(m))
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            "conv",
            F.round(10000.0 * F.col("conv") / F.col("n"))
            .cast("bigint")
            .alias("raw_bp"),
            F.round(
                10000.0
                * (F.col("conv") + F.col("strength") * F.col("mu"))
                / (F.col("n") + F.col("strength"))
            )
            .cast("bigint")
            .alias("shrunk_bp"),
        )
        .orderBy("segment")
    )


# --- q302: Neyman optimal stratified-sample allocation -------------------
_NEYMAN_BUDGET = 1000

_DUCK_NEYMAN = f"""
    WITH s AS (
      SELECT event_type AS stratum,
             count(*) AS nh,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
      FROM events GROUP BY 1),
         sd AS (
      SELECT stratum, nh,
             sqrt(sq * 1.0 / nh - (sv * 1.0 / nh) * (sv * 1.0 / nh)) AS sh
      FROM s),
         tot AS (
      SELECT sum(nh * sh) AS w, sum(nh) AS n FROM sd)
    SELECT sd.stratum, CAST(sd.nh AS BIGINT) AS nh,
           CAST(round(sd.sh) AS BIGINT) AS sd_cents,
           CAST(round({_NEYMAN_BUDGET} * sd.nh * sd.sh / tot.w) AS BIGINT)
             AS neyman_n,
           CAST(round({_NEYMAN_BUDGET} * sd.nh * 1.0 / tot.n) AS BIGINT)
             AS proportional_n
    FROM sd CROSS JOIN tot
    ORDER BY sd.stratum
"""


@register("q302_neyman_allocation", _DUCK_NEYMAN)
def q302_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for stratified sampling (Neyman, JRSS
    1934): given a {_NEYMAN_BUDGET}-row labeling/eval budget, sample
    n_h proportional to N_h * S_h — big AND noisy strata get more
    rows — versus naive proportional allocation shown alongside. This
    is how an eval-set builder should split its annotation budget over
    document sources, and the variance win over proportional is
    largest exactly when strata differ in spread.

    Exactness: per-stratum moments are integer-cent sums; S_h and the
    allocations are identical closed-form doubles rounded once.

    100 TB shape: one combinable moment aggregate (count/sum/sum-sq)
    to |strata| rows, a scalar total, a 1-row cross join back — the
    q293/q300 'heavy aggregate, tiny decision table' shape again."""
    ev = load_table(spark, sf_dir, "events")
    vc = quantise("value", 2)
    s = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(vc).cast("bigint").alias("sv"),
        F.sum(vc * vc).cast("bigint").alias("sq"),
    )
    sh = F.sqrt(
        F.col("sq") * 1.0 / F.col("nh")
        - (F.col("sv") * 1.0 / F.col("nh")) * (F.col("sv") * 1.0 / F.col("nh"))
    )
    sd = s.select("stratum", "nh", sh.alias("sh"))
    tot = sd.agg(
        F.sum(F.col("nh") * F.col("sh")).alias("w"), F.sum("nh").alias("n")
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.col("nh").cast("bigint").alias("nh"),
            F.round(F.col("sh")).cast("bigint").alias("sd_cents"),
            F.round(_NEYMAN_BUDGET * F.col("nh") * F.col("sh") / F.col("w"))
            .cast("bigint")
            .alias("neyman_n"),
            F.round(_NEYMAN_BUDGET * F.col("nh") * 1.0 / F.col("n"))
            .cast("bigint")
            .alias("proportional_n"),
        )
        .orderBy("stratum")
    )


# --- q318: t-closeness (EMD of class vs global sensitive distribution) ---
_TCLOSE_BUCKET = 50  # sensitive attribute (n_chars) bucket width
_TCLOSE_T_MILLI = 200  # release threshold t = 0.2

_DUCK_TCLOSE = f"""
    WITH d AS (
      SELECT lang, source, n_chars // {_TCLOSE_BUCKET} AS b FROM documents),
         buckets AS (SELECT DISTINCT b FROM d),
         nb AS (SELECT count(*) AS n_buckets FROM buckets),
         classes AS (
      SELECT lang, source, count(*) AS n FROM d GROUP BY 1, 2),
         cell AS (
      SELECT lang, source, b, count(*) AS c FROM d GROUP BY 1, 2, 3),
         grid AS (
      SELECT cl.lang, cl.source, bu.b, cl.n,
             coalesce(cell.c, 0) AS c
      FROM classes cl CROSS JOIN buckets bu
      LEFT JOIN cell ON cell.lang = cl.lang AND cell.source = cl.source
                    AND cell.b = bu.b),
         gh AS (
      SELECT b, count(*) AS g FROM d GROUP BY b),
         tot AS (SELECT count(*) AS nt FROM d),
         cums AS (
      SELECT grid.lang, grid.source, grid.b, grid.n,
             sum(grid.c) OVER (PARTITION BY grid.lang, grid.source
                               ORDER BY grid.b) * 1.0 / grid.n AS cq,
             sum(gh.g) OVER (PARTITION BY grid.lang, grid.source
                               ORDER BY grid.b) * 1.0 / tot.nt AS cp
      FROM grid JOIN gh USING (b) CROSS JOIN tot)
    SELECT lang, source, CAST(max(n) AS BIGINT) AS n,
           CAST(round(1000.0 * sum(abs(cq - cp)) / (max(nb.n_buckets) - 1))
                AS BIGINT) AS t_milli,
           CAST(CASE WHEN round(1000.0 * sum(abs(cq - cp))
                               / (max(nb.n_buckets) - 1))
                          > {_TCLOSE_T_MILLI}
                     THEN 1 ELSE 0 END AS BIGINT) AS violates_t
    FROM cums CROSS JOIN nb
    GROUP BY lang, source
    ORDER BY lang, source
"""


@register("q318_t_closeness", _DUCK_TCLOSE)
def q318_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third rung of the privacy ladder after k-anonymity and
    l-diversity (both in q142): an equivalence class leaks when the
    DISTRIBUTION of its sensitive attribute strays from the global
    one, measured by earth-mover's distance over the ordered value
    buckets (the same |cumP - cumQ| step integral as q308, normalized
    by m-1 per the paper). Classes with t > 0.2 need generalization
    before release.

    Determinism: all cell counts are integers over a shared bucket
    grid; the cumulative ratios and the normalized sum are identical
    closed forms.

    100 TB shape: two aggregates (class cells, global histogram) on
    one pass each; the grid is |classes| x |buckets| — both bounded
    category sets — and the cumulative windows partition by class."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "source", F.floor(F.col("n_chars") / _TCLOSE_BUCKET).alias("b")
    )
    # ONE corpus pass builds the (class, bucket) cell table
    # (checkpointed, bounded by |classes| x |buckets|); the bucket
    # set, class sizes, global histogram, and total all derive from
    # it — computing each from `d` re-scanned the corpus per consumer
    # (audited: 4 parquet scans of documents in one plan; now 1).
    cell = materialize(
        d.groupBy("lang", "source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    buckets = cell.select("b").distinct()
    n_buckets = buckets.count()
    classes = cell.groupBy("lang", "source").agg(F.sum("c").alias("n"))
    grid = (
        classes.crossJoin(F.broadcast(buckets))
        .join(cell, ["lang", "source", "b"], "left")
        .select(
            "lang",
            "source",
            "b",
            "n",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    glob = cell.groupBy("b").agg(F.sum("c").alias("g"))
    n_total = cell.agg(F.sum("c")).collect()[0][0]
    wcum = (
        Window.partitionBy("lang", "source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = grid.join(F.broadcast(glob), "b").select(
        "lang",
        "source",
        "n",
        (F.sum("c").over(wcum) * 1.0 / F.col("n")).alias("cq"),
        (F.sum("g").over(wcum) * 1.0 / F.lit(n_total)).alias("cp"),
    )
    t_milli = F.round(
        1000.0 * F.sum(F.abs(F.col("cq") - F.col("cp"))) / (n_buckets - 1)
    ).cast("bigint")
    return (
        cums.groupBy("lang", "source")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            t_milli.alias("t_milli"),
        )
        .select(
            "lang",
            "source",
            "n",
            "t_milli",
            F.when(F.col("t_milli") > _TCLOSE_T_MILLI, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("violates_t"),
        )
        .orderBy("lang", "source")
    )


# --- q321: nearest-neighbor covariate matching (PSM-style ATT) ------------
_DUCK_MATCH_ATT = """
    WITH spend AS (
      SELECT c.c_custkey AS k,
             CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                  AS BIGINT) AS out_c
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1),
         units AS (
      SELECT c_custkey AS k, c_nationkey AS nk,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated
      FROM customer),
         merged_b AS (
      SELECT *,
             max(CASE WHEN treated = 0
                      THEN (bal_c + 1000000) * 1000000000000 + k END) OVER (
               PARTITION BY nk
               ORDER BY bal_c, treated, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_pack
      FROM units),
         merged_f AS (
      SELECT *,
             max(CASE WHEN treated = 0
                      THEN -((bal_c + 1000000) * 1000000000000 + k) END) OVER (
               PARTITION BY nk
               ORDER BY bal_c DESC, treated, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_neg
      FROM merged_b),
         picks AS (
      SELECT k, nk, bal_c, treated,
             b_pack // 1000000000000 - 1000000 AS b_bal,
             b_pack % 1000000000000 AS b_key,
             (-f_neg) // 1000000000000 - 1000000 AS f_bal,
             (-f_neg) % 1000000000000 AS f_key
      FROM merged_f WHERE treated = 1),
         matched AS (
      SELECT k, nk, bal_c,
             CASE WHEN b_bal IS NULL AND f_bal IS NULL THEN NULL
                  WHEN f_bal IS NULL THEN b_key
                  WHEN b_bal IS NULL THEN f_key
                  WHEN bal_c - b_bal <= f_bal - bal_c THEN b_key
                  ELSE f_key END AS ctrl_k
      FROM picks)
    SELECT CAST(count(*) AS BIGINT) AS n_matched,
           CAST(round(avg(ts.out_c - cs.out_c)) AS BIGINT) AS att_cents,
           CAST(round(avg(ts.out_c)) AS BIGINT) AS mean_treated_cents,
           CAST(round(avg(cs.out_c)) AS BIGINT) AS mean_control_cents
    FROM matched m
    JOIN spend ts ON ts.k = m.k
    JOIN spend cs ON cs.k = m.ctrl_k
    WHERE m.ctrl_k IS NOT NULL
"""


@register("q321_matching_att", _DUCK_MATCH_ATT)
def q321_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching with replacement (the
    estimator under propensity-score matching, Rosenbaum & Rubin 1983;
    here matching directly on the account-balance confounder within
    exact nation strata): each treated customer (BUILDING segment)
    pairs with the control whose balance is nearest — found by TWO
    sorted-merge passes (the q13 as-of union-merge shape: a running
    max over the nation-partitioned balance order carries the last
    control seen; the reverse order gives the next control; pick the
    closer, ties backward) — then ATT = mean(treated spend - matched
    control spend). No pairwise distance join exists anywhere.

    The (balance, key) pair rides ONE packed bigint ((bal+offset)*1e12
    + key, offset keeping packs positive so floor and truncating integer
    division agree across engines; the 1e12 key field holds custkeys up
    to 10^12 — TPC-H SF ~6.7M — and (bal+offset)*1e12 <= 2e18 < 2^63)
    through the running max — max over packed values = lexicographic
    argmax, the same trick as q159's struct-min, expressible
    identically in both engines' window vocabulary.

    Determinism: balances and outcomes are integer cents; ordering
    tie-breaks are (bal, treated, key); the ATT average is a ratio of
    integer sums.

    100 TB shape: two nation-partitioned windows (the as-of shuffle,
    linear in units at any history depth) + two broadcast-or-keyed
    joins to the spend rollup; matching never materializes a
    candidate pair set."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = materialize(
        cust.select(F.col("c_custkey").alias("k"))
        .join(
            orders.groupBy(F.col("o_custkey").alias("k")).agg(
                F.sum(quantise("o_totalprice", 2)).alias("s")
            ),
            "k",
            "left",
        )
        .select("k", F.coalesce("s", F.lit(0)).cast("bigint").alias("out_c"))
        # |customers| rows; feeds BOTH the treated
        # and matched-control outcome joins (the orders rollup would
        # otherwise run twice)
    )
    units = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nk"),
        quantise("c_acctbal", 2).alias("bal_c"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
            "treated"
        ),
    )
    # offset keeps every packed value positive: TPC-H balances go to
    # -999.99, and floor (duckdb //) vs truncate (spark div) disagree
    # on negatives — with positive packs they coincide.
    pack = F.when(
        F.col("treated") == 0,
        (F.col("bal_c") + 1000000) * 1000000000000 + F.col("k"),
    )
    wb = (
        Window.partitionBy("nk")
        .orderBy("bal_c", "treated", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("nk")
        .orderBy(F.desc("bal_c"), F.asc("treated"), F.asc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = units.withColumn("b_pack", F.max(pack).over(wb)).withColumn(
        "f_neg", F.max(-pack).over(wf)
    )
    picks = merged.filter(F.col("treated") == 1).select(
        "k",
        "bal_c",
        (F.expr("b_pack div 1000000000000") - 1000000).alias("b_bal"),
        (F.col("b_pack") % 1000000000000).alias("b_key"),
        (F.expr("(-f_neg) div 1000000000000") - 1000000).alias("f_bal"),
        (F.expr("-f_neg") % 1000000000000).alias("f_key"),
    )
    matched = picks.select(
        "k",
        F.when(F.col("b_bal").isNull() & F.col("f_bal").isNull(), None)
        .when(F.col("f_bal").isNull(), F.col("b_key"))
        .when(F.col("b_bal").isNull(), F.col("f_key"))
        .when(
            F.col("bal_c") - F.col("b_bal") <= F.col("f_bal") - F.col("bal_c"),
            F.col("b_key"),
        )
        .otherwise(F.col("f_key"))
        .alias("ctrl_k"),
    ).filter(F.col("ctrl_k").isNotNull())
    ts = spend.select(F.col("k"), F.col("out_c").alias("t_out"))
    cs = spend.select(
        F.col("k").alias("ctrl_k"), F.col("out_c").alias("c_out")
    )
    return (
        matched.join(ts, "k")
        .join(cs, "ctrl_k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.round(F.avg(F.col("t_out") - F.col("c_out")))
            .cast("bigint")
            .alias("att_cents"),
            F.round(F.avg("t_out")).cast("bigint").alias("mean_treated_cents"),
            F.round(F.avg("c_out")).cast("bigint").alias("mean_control_cents"),
        )
    )


# --- q328: instrumental-variable (Wald/2SLS) estimator (round 6) -----------
_DUCK_IV = """
    WITH d AS (
      SELECT CAST(o_orderkey % 2 AS BIGINT) AS z,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders),
         m AS (
      SELECT count(*) AS n,
             sum(z) AS sz, sum(x) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(z * x) AS szx, sum(z * y) AS szy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM d),
         c AS (
      SELECT n,
             (szx - sz * 1.0 * sx / n) AS cov_zx,
             (szy - sz * 1.0 * sy / n) AS cov_zy,
             (sxy - sx * 1.0 * sy / n) AS cov_xy,
             (sxx - sx * 1.0 * sx / n) AS var_x,
             (sz - sz * 1.0 * sz / n) AS var_z
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(1000000000.0 * cov_zy / cov_zx) AS BIGINT)
             AS beta_iv_e9,
           CAST(round(1000000000.0 * cov_xy / var_x) AS BIGINT)
             AS beta_ols_e9,
           CAST(round(1000.0 * (n - 2) * cov_zx * cov_zx
                      / (var_z * var_x - cov_zx * cov_zx)) AS BIGINT)
             AS first_stage_f_milli
    FROM c
"""


@register("q328_iv_wald", _DUCK_IV)
def q328_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable estimate (Wald 1940; the just-identified
    2SLS closed form): beta_IV = cov(z,y)/cov(z,x) — the causal
    estimator when the regressor is endogenous and a randomized-ish
    instrument exists (here the order-key parity standing in for an
    encouragement assignment; x = order value cents, y = urgent
    priority). Reported NEXT TO the naive OLS slope so the divergence
    (the endogeneity bias the IV removes) is visible, plus the
    first-stage F — the Stock-Yogo weak-instrument diagnostic
    (F < 10 means the IV estimate is untrustworthy no matter how
    clean the algebra).

    Determinism: one moment aggregate in exact integers (z is 0/1 so
    z*x and z*z stay within int64 bounds); the covariance ratios are
    identical closed-form doubles quantized at the end.

    100 TB shape: ONE map-side-combinable moment aggregate — the
    whole causal machinery is six sums; this is q252's OLS pattern
    with a second covariance, and it composes with q321 (matching)
    and q235 (DiD) as the third identification strategy."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        (F.col("o_orderkey") % 2).cast("bigint").alias("z"),
        quantise("o_totalprice", 2).alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    # decimal(38,0) accumulators for the cent-product moments: x*x is
    # ~3.6e15 per row, so the int64 sum overflows past ~2500 rows
    # (q255's lesson); one double conversion after the reduce.
    dec = lambda c: c.cast("decimal(38,0)")
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec(F.col("z") * F.col("x"))).cast("double").alias("szx"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).cast("double").alias("sxx"),
    )
    n = F.col("n")
    cov_zx = F.col("szx") - F.col("sz") * 1.0 * F.col("sx") / n
    cov_zy = F.col("szy") - F.col("sz") * 1.0 * F.col("sy") / n
    cov_xy = F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / n
    var_x = F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / n
    var_z = F.col("sz") - F.col("sz") * 1.0 * F.col("sz") / n
    return m.select(
        n.cast("bigint").alias("n"),
        F.round(1000000000.0 * cov_zy / cov_zx).cast("bigint").alias(
            "beta_iv_e9"
        ),
        F.round(1000000000.0 * cov_xy / var_x).cast("bigint").alias(
            "beta_ols_e9"
        ),
        F.round(
            1000.0
            * (n - 2)
            * cov_zx
            * cov_zx
            / (var_z * var_x - cov_zx * cov_zx)
        )
        .cast("bigint")
        .alias("first_stage_f_milli"),
    )


# --- q348: 2x2 factorial interaction test (round 6) ------------------------
_DUCK_FACTORIAL = """
    WITH d AS (
      SELECT user_id % 2 AS fa, (user_id // 2) % 2 AS fb,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
         cell AS (
      SELECT fa, fb, count(*) AS n, sum(vc) AS sx,
             sum(vc * vc) AS sxx
      FROM d GROUP BY 1, 2),
         m AS (
      SELECT sum(CASE WHEN fa = 1 AND fb = 1 THEN sx * 1.0 / n END) AS m11,
             sum(CASE WHEN fa = 1 AND fb = 0 THEN sx * 1.0 / n END) AS m10,
             sum(CASE WHEN fa = 0 AND fb = 1 THEN sx * 1.0 / n END) AS m01,
             sum(CASE WHEN fa = 0 AND fb = 0 THEN sx * 1.0 / n END) AS m00,
             sum((sxx - sx * sx * 1.0 / n) / (n - 1) / n) AS var_sum,
             CAST(sum(n) AS BIGINT) AS nn
      FROM cell)
    SELECT nn AS n,
           CAST(round(10.0 * ((m11 - m10) - (m01 - m00))) AS BIGINT)
             AS interaction_m,
           CAST(round(10.0 * ((m11 + m10) - (m01 + m00)) / 2) AS BIGINT)
             AS main_a_m,
           CAST(round(10.0 * ((m11 + m01) - (m10 + m00)) / 2) AS BIGINT)
             AS main_b_m,
           CAST(round(1000.0 * ((m11 - m10) - (m01 - m00))
                      / sqrt(var_sum)) AS BIGINT) AS interaction_z_milli
    FROM m
"""


@register("q348_factorial_interaction", _DUCK_FACTORIAL)
def q348_factorial_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 factorial experiment analysis (Fisher's design; Kohavi et
    al., 'Online Controlled Experiments' ch. 4 for the web version):
    two simultaneous treatments (user-id bit 0 and bit 1 standing in
    for two feature flags) analyzed for BOTH main effects and the
    INTERACTION contrast (m11-m10)-(m01-m00) with its z-score from
    the per-cell variance sum — the analysis that says whether two
    teams' experiments can be read independently (interaction ~ 0) or
    are stepping on each other. Complements q192 (one factor), q235
    (DiD), q184 (CUPED).

    Determinism: four cell means from exact integer-cent sums; the
    contrasts and z are closed-form doubles quantized at the end
    (decimal(38,0) accumulators for the squared sums — the q328/q255
    overflow lesson).

    100 TB shape: ONE map-side-combinable (fa, fb) cell aggregate —
    a 4-row decision table; adding factors multiplies cells (2^k),
    never passes."""
    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(38,0)")
    d = ev.select(
        (F.col("user_id") % 2).alias("fa"),
        (F.expr("user_id div 2") % 2).alias("fb"),
        quantise("value", 2).alias("vc"),
    )
    cell = d.groupBy("fa", "fb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("sx"),
        F.sum(dec(F.col("vc")) * dec(F.col("vc"))).cast("double").alias("sxx"),
    )
    mean_of = lambda a, b: F.sum(
        F.when(
            (F.col("fa") == a) & (F.col("fb") == b),
            F.col("sx") * 1.0 / F.col("n"),
        )
    )
    m = cell.agg(
        mean_of(1, 1).alias("m11"),
        mean_of(1, 0).alias("m10"),
        mean_of(0, 1).alias("m01"),
        mean_of(0, 0).alias("m00"),
        F.sum(
            (F.col("sxx") - F.col("sx") * F.col("sx") * 1.0 / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("var_sum"),
        F.sum("n").cast("bigint").alias("nn"),
    )
    inter = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    return m.select(
        F.col("nn").alias("n"),
        quantise(inter, 1).alias("interaction_m"),
        F.round(
            10.0 * ((F.col("m11") + F.col("m10")) - (F.col("m01") + F.col("m00"))) / 2
        )
        .cast("bigint")
        .alias("main_a_m"),
        F.round(
            10.0 * ((F.col("m11") + F.col("m01")) - (F.col("m10") + F.col("m00"))) / 2
        )
        .cast("bigint")
        .alias("main_b_m"),
        F.round(1000.0 * inter / F.sqrt(F.col("var_sum")))
        .cast("bigint")
        .alias("interaction_z_milli"),
    )


# --- q356/q357: pairwise tournament -> Copeland + Bradley-Terry (round 6) --
_DUCK_TOURNAMENT_BASE = """
    WITH day AS (
      SELECT event_type AS item, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS n
      FROM events GROUP BY 1, 2),
         duel AS (
      SELECT a.item AS wi, b.item AS li, a.d
      FROM day a JOIN day b ON a.d = b.d AND a.item <> b.item
      WHERE a.s * b.n > b.s * a.n
         OR (a.s * b.n = b.s * a.n AND a.item < b.item)),
         wins AS (
      SELECT wi, li, CAST(count(*) AS BIGINT) AS w
      FROM duel GROUP BY 1, 2)
"""

_DUCK_COPELAND = (
    _DUCK_TOURNAMENT_BASE
    + """
    , score AS (
      SELECT wi AS item, CAST(sum(w) AS BIGINT) AS n_wins
      FROM wins GROUP BY wi)
    SELECT item, n_wins,
           CAST(row_number() OVER (ORDER BY n_wins DESC, item) AS BIGINT)
             AS copeland_rank
    FROM score ORDER BY copeland_rank
"""
)


@register("q356_copeland_tournament", _DUCK_COPELAND)
def q356_copeland_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland tournament aggregation (Copeland 1951; the
    pairwise-preference ranking used by LLM-evaluation arenas before
    model fitting): items (event types standing in for model variants)
    duel on every day's exposure-normalized mean value — day-level
    pairwise comparisons are the 'judge votes' — and rank by total
    pairwise wins. Day means compare by CROSS-MULTIPLIED integer sums
    (s_a*n_b vs s_b*n_a — no division, no float tie ambiguity; exact
    ties break to the lexicographically smaller item).

    100 TB shape: the duel join runs on the (items x days) table —
    calendar-bounded, never event-rows; the win matrix is
    |items|^2."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(ev.groupBy(
        F.col("event_type").alias("item"), F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(quantise("value", 2))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
    ))  # the day table feeds both duel sides
    a = day.select(
        F.col("item").alias("ia"), "d", F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = day.select(
        F.col("item").alias("ib"), F.col("d").alias("db"),
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    duel = a.join(b, (F.col("d") == F.col("db")) & (F.col("ia") != F.col("ib"))).filter(
        (F.col("sa") * F.col("nb") > F.col("sb") * F.col("na"))
        | (
            (F.col("sa") * F.col("nb") == F.col("sb") * F.col("na"))
            & (F.col("ia") < F.col("ib"))
        )
    )
    score = duel.groupBy(F.col("ia").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wins")
    )
    return score.select(
        "item",
        "n_wins",
        F.row_number()
        .over(Window.orderBy(F.desc("n_wins"), F.asc("item")))
        .cast("bigint")
        .alias("copeland_rank"),
    ).orderBy("copeland_rank")


_DUCK_BRADLEY_TERRY = (
    _DUCK_TOURNAMENT_BASE
    + """
    , pairs AS (
      SELECT wi AS i, li AS j, w FROM wins
      UNION ALL
      SELECT li AS i, wi AS j, 0 FROM wins),
         agg AS (
      SELECT i, j, CAST(sum(w) AS BIGINT) AS w_ij FROM pairs GROUP BY 1, 2),
         tot AS (
      SELECT a.i,
             CAST(sum(a.w_ij) AS BIGINT) AS wins_i,
             sum((a.w_ij + b.w_ij) / 2.0) AS half_n
      FROM agg a JOIN agg b ON a.i = b.j AND a.j = b.i
      GROUP BY a.i)
    SELECT i AS item, wins_i,
           CAST(round(1000000.0 * wins_i / half_n) AS BIGINT) AS bt_gamma_e6,
           CAST(row_number() OVER (
             ORDER BY CAST(round(1000000.0 * wins_i / half_n) AS BIGINT)
               DESC, i) AS BIGINT) AS bt_rank
    FROM tot ORDER BY bt_rank
"""
)


@register("q357_bradley_terry_step", _DUCK_BRADLEY_TERRY)
def q357_bradley_terry_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact minorization step of Bradley-Terry fitting (Bradley &
    Terry 1952; Hunter 2004's MM algorithm — the model behind
    arena-style LLM leaderboards): from uniform initial strengths,
    gamma_i' = wins_i / sum_j n_ij/(gamma_i + gamma_j) reduces to
    wins_i / (half the comparison count) — reported with the rank it
    induces. One step from uniform is exactly the win-RATE ranking,
    which differs from q356's Copeland WIN-COUNT ranking whenever
    schedules are unbalanced — the divergence that motivates model
    fitting over raw counts; iterating feeds gammas back (the q49
    loop shape) and the oracle stays fixed by pinning ONE step.

    100 TB shape: everything after the day rollup runs on the
    |items|^2 win matrix; the duel generation is the q356 plan."""
    ev = load_table(spark, sf_dir, "events")
    day = materialize(ev.groupBy(
        F.col("event_type").alias("item"), F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(quantise("value", 2))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
    ))
    a = day.select(
        F.col("item").alias("ia"), "d", F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = day.select(
        F.col("item").alias("ib"), F.col("d").alias("db"),
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    duel = a.join(b, (F.col("d") == F.col("db")) & (F.col("ia") != F.col("ib"))).filter(
        (F.col("sa") * F.col("nb") > F.col("sb") * F.col("na"))
        | (
            (F.col("sa") * F.col("nb") == F.col("sb") * F.col("na"))
            & (F.col("ia") < F.col("ib"))
        )
    )
    wins = materialize(duel.groupBy(
        F.col("ia").alias("wi"), F.col("ib").alias("li")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w")))
    pairs = wins.select(
        F.col("wi").alias("i"), F.col("li").alias("j"), "w"
    ).unionByName(
        wins.select(
            F.col("li").alias("i"), F.col("wi").alias("j"), F.lit(0).cast("bigint").alias("w")
        )
    )
    agg = materialize(
        pairs.groupBy("i", "j").agg(F.sum("w").cast("bigint").alias("w_ij"))
    )
    rev = agg.select(
        F.col("i").alias("j2"), F.col("j").alias("i2"), F.col("w_ij").alias("w_ji")
    )
    tot = (
        agg.join(rev, (agg.i == F.col("i2")) & (agg.j == F.col("j2")))
        .groupBy("i")
        .agg(
            F.sum("w_ij").cast("bigint").alias("wins_i"),
            F.sum((F.col("w_ij") + F.col("w_ji")) / 2.0).alias("half_n"),
        )
    )
    g = F.round(1000000.0 * F.col("wins_i") / F.col("half_n")).cast("bigint")
    return tot.select(
        F.col("i").alias("item"),
        "wins_i",
        g.alias("bt_gamma_e6"),
        F.row_number()
        .over(Window.orderBy(g.desc(), F.col("i").asc()))
        .cast("bigint")
        .alias("bt_rank"),
    ).orderBy("bt_rank")


# --- q365: regression discontinuity, local-linear jump (round 6) ------------
_RDD_CUT_C = 500000  # c_acctbal cutoff, cents ($5000.00)
_RDD_BW_C = 250000  # bandwidth, cents ($2500.00)

_DUCK_RDD = f"""
    WITH y AS (
      SELECT c.c_custkey,
             CAST(round(c.c_acctbal * 100) AS BIGINT) - {_RDD_CUT_C} AS u,
             CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                  AS BIGINT) AS spend_c
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
         w AS (
      SELECT CASE WHEN u >= 0 THEN 'right' ELSE 'left' END AS side,
             u, spend_c
      FROM y WHERE u >= -{_RDD_BW_C} AND u < {_RDD_BW_C}),
         s AS (
      SELECT side, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(u) AS DOUBLE) AS su,
             CAST(sum(spend_c) AS DOUBLE) AS sy,
             CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE) AS suu,
             CAST(sum(CAST(u AS HUGEINT) * spend_c) AS DOUBLE) AS suy
      FROM w GROUP BY 1),
         fit AS (
      SELECT side, n,
             (n * suy - su * sy) / (n * suu - su * su) AS slope,
             (sy - (n * suy - su * sy) / (n * suu - su * su) * su) / n
               AS intercept
      FROM s)
    SELECT CAST(max(CASE WHEN side = 'left' THEN n END) AS BIGINT) AS n_left,
           CAST(max(CASE WHEN side = 'right' THEN n END) AS BIGINT) AS n_right,
           CAST(round(max(CASE WHEN side = 'left' THEN intercept END))
                AS BIGINT) AS intercept_left_c,
           CAST(round(max(CASE WHEN side = 'right' THEN intercept END))
                AS BIGINT) AS intercept_right_c,
           CAST(round(1000000 * max(CASE WHEN side = 'left' THEN slope END))
                AS BIGINT) AS slope_left_u,
           CAST(round(1000000 * max(CASE WHEN side = 'right' THEN slope END))
                AS BIGINT) AS slope_right_u,
           CAST(round(max(CASE WHEN side = 'right' THEN intercept END)
                      - max(CASE WHEN side = 'left' THEN intercept END))
                AS BIGINT) AS jump_c
    FROM fit
"""


@register("q365_rdd_local_linear", _DUCK_RDD)
def q365_rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960; Imbens & Lemieux, J.Econometrics 2008): customers
    just above vs just below a $5000 account-balance cutoff, outcome =
    lifetime order spend. Two SEPARATE local-linear fits inside a
    +/-$2500 bandwidth, jump = difference of the two intercepts AT the
    cutoff — the design that identifies a causal effect when treatment
    is assigned by a threshold rule, where q283's naive group-mean
    difference would absorb the running-variable trend.

    Exactness: u and spend quantize to integer cents per row; the OLS
    normal equations consume exact wide-integer sums (Spark
    decimal(38,0), DuckDB HUGEINT — u*y exceeds int64 at corpus
    scale), converted once to double for the closed form.

    100 TB shape: one fact-side aggregate (spend per customer,
    map-side combined), bandwidth filter prunes to the cutoff
    neighborhood BEFORE the moment sums (predicate-pushdown on the
    balance column at the scan at scale), then a 2-row closed-form
    fit. No iteration, no matrix library."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(quantise("o_totalprice", 2))
        .cast("bigint")
        .alias("spend_c")
    )
    y = (
        cust.select(
            "c_custkey",
            (quantise("c_acctbal", 2) - _RDD_CUT_C).alias("u"),
        )
        .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select("u", F.coalesce(F.col("spend_c"), F.lit(0)).alias("spend_c"))
        .filter((F.col("u") >= -_RDD_BW_C) & (F.col("u") < _RDD_BW_C))
    )
    w = y.select(
        F.when(F.col("u") >= 0, "right").otherwise("left").alias("side"),
        "u",
        "spend_c",
    )
    s = w.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).cast("double").alias("su"),
        F.sum(F.col("spend_c").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u"))
        .cast("double")
        .alias("suu"),
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("spend_c"))
        .cast("double")
        .alias("suy"),
    )
    slope = (F.col("n") * F.col("suy") - F.col("su") * F.col("sy")) / (
        F.col("n") * F.col("suu") - F.col("su") * F.col("su")
    )
    fit = s.select(
        "side",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("su")) / F.col("n")).alias("intercept"),
    )
    left = F.when(F.col("side") == "left", F.col("intercept"))
    right = F.when(F.col("side") == "right", F.col("intercept"))
    return fit.agg(
        F.max(F.when(F.col("side") == "left", F.col("n")))
        .cast("bigint")
        .alias("n_left"),
        F.max(F.when(F.col("side") == "right", F.col("n")))
        .cast("bigint")
        .alias("n_right"),
        F.round(F.max(left)).cast("bigint").alias("intercept_left_c"),
        F.round(F.max(right)).cast("bigint").alias("intercept_right_c"),
        quantise(F.max(F.when(F.col("side") == "left", F.col("slope"))), 6)
        .alias("slope_left_u"),
        quantise(F.max(F.when(F.col("side") == "right", F.col("slope"))), 6)
        .alias("slope_right_u"),
        F.round(F.max(right) - F.max(left)).cast("bigint").alias("jump_c"),
    )


# --- q368: two-sample log-rank test (round 6) -------------------------------
_DUCK_LOGRANK = """
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
         m AS (SELECT max(ts) AS max_ts FROM events),
         p AS (
      SELECT s.user_id, min(e.ts) AS conv_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id),
         obs AS (
      SELECT s.user_id,
             CAST(s.user_id % 2 AS BIGINT) AS g,
             CAST(FLOOR(date_diff('second', s.signup_ts,
                    coalesce(p.conv_ts, m.max_ts)) / 3600.0) AS BIGINT)
               AS t_h,
             CASE WHEN p.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM s LEFT JOIN p USING (user_id), m),
         tot AS (
      SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS n FROM obs),
         km AS (
      SELECT t_h,
             sum(ev) AS d,
             sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS d1,
             count(*) AS rm,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS rm1
      FROM obs GROUP BY t_h),
         risk AS (
      SELECT t_h, d, d1,
             tot.n - coalesce(sum(rm) OVER (ORDER BY t_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_t,
             tot.n1 - coalesce(sum(rm1) OVER (ORDER BY t_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1_t
      FROM km CROSS JOIN tot),
         terms AS (
      SELECT d1,
             CAST(round(1000000.0 * d * n1_t / n_t) AS BIGINT) AS e1_u,
             CASE WHEN n_t > 1 THEN
               CAST(round(1000000.0 * d * (n1_t * 1.0 / n_t)
                          * (1.0 - n1_t * 1.0 / n_t)
                          * (n_t - d) / (n_t - 1)) AS BIGINT)
             ELSE 0 END AS v_u
      FROM risk WHERE d > 0)
    SELECT tot.n - tot.n1 AS n_group0, tot.n1 AS n_group1,
           CAST(t.o1 AS BIGINT) AS o1,
           t.e1_u, t.v_u,
           CAST(round(1000.0 * (t.o1 - t.e1_u / 1000000.0)
                      * (t.o1 - t.e1_u / 1000000.0)
                      / (t.v_u / 1000000.0)) AS BIGINT) AS chi2_milli,
           CAST(round(1000.0 * (t.o1 - t.e1_u / 1000000.0)
                      / sqrt(t.v_u / 1000000.0)) AS BIGINT) AS z_milli
    FROM (SELECT CAST(sum(d1) AS BIGINT) AS o1,
                 CAST(sum(e1_u) AS BIGINT) AS e1_u,
                 CAST(sum(v_u) AS BIGINT) AS v_u
          FROM terms) t CROSS JOIN tot
"""


@register("q368_logrank_test", _DUCK_LOGRANK)
def q368_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; Peto & Peto, JRSS-A
    1972) on the signup→first-purchase funnel, groups = user parity:
    at every event time, compare observed group-1 conversions against
    the hypergeometric expectation given the risk sets, and pool into
    the chi-square that says whether the two survival curves differ —
    the inferential companion to q211's Kaplan-Meier DESCRIPTION of
    the curve, and the censoring-honest alternative to comparing
    q141-style mean conversion times.

    Exactness: risk sets and death counts are exact integers from one
    cumulative window; the per-time E and V terms quantize to micro
    BEFORE pooling (integer sums are engine-associative), and the
    final chi-square is double math on three exact integers.

    100 TB shape: q211's shape — two keyed aggregates to per-user
    observations, one aggregate to the time grid (calendar-bounded),
    one window pass for risk sets, one bounded reduction. Adding the
    second group adds columns, not passes."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    m = ev.agg(F.max("ts").alias("max_ts"))
    p = (
        s.join(ev, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("signup_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    obs = materialize(
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(m))
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("g"),
            F.floor(
                (
                    F.unix_timestamp(F.coalesce(F.col("conv_ts"), F.col("max_ts")))
                    - F.unix_timestamp(F.col("signup_ts"))
                )
                / 3600.0
            )
            .cast("bigint")
            .alias("t_h"),
            F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    tot = obs.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    km = obs.groupBy("t_h").agg(
        F.sum("ev").alias("d"),
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.count(F.lit(1)).alias("rm"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("rm1"),
    )
    w = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        km.crossJoin(F.broadcast(tot))
        .withColumn("n_t", F.col("n") - F.coalesce(F.sum("rm").over(w), F.lit(0)))
        .withColumn(
            "n1_t", F.col("n1") - F.coalesce(F.sum("rm1").over(w), F.lit(0))
        )
    )
    frac = F.col("n1_t") * 1.0 / F.col("n_t")
    terms = risk.filter(F.col("d") > 0).select(
        "d1",
        F.round(1000000.0 * F.col("d") * F.col("n1_t") / F.col("n_t"))
        .cast("bigint")
        .alias("e1_u"),
        F.when(
            F.col("n_t") > 1,
            F.round(
                1000000.0
                * F.col("d")
                * frac
                * (1.0 - frac)
                * (F.col("n_t") - F.col("d"))
                / (F.col("n_t") - 1)
            ).cast("bigint"),
        )
        .otherwise(0)
        .alias("v_u"),
    )
    pooled = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_u").cast("bigint").alias("e1_u"),
        F.sum("v_u").cast("bigint").alias("v_u"),
    )
    diff = F.col("o1") - F.col("e1_u") / 1000000.0
    return (
        pooled.crossJoin(F.broadcast(tot))
        .select(
            (F.col("n") - F.col("n1")).alias("n_group0"),
            F.col("n1").alias("n_group1"),
            "o1",
            "e1_u",
            "v_u",
            F.round(1000.0 * diff * diff / (F.col("v_u") / 1000000.0))
            .cast("bigint")
            .alias("chi2_milli"),
            F.round(1000.0 * diff / F.sqrt(F.col("v_u") / 1000000.0))
            .cast("bigint")
            .alias("z_milli"),
        )
    )


# --- q393: Frisch-Waugh-Lovell partialling-out (round 6) --------------------
_DUCK_FWL = """
    WITH d AS (
      SELECT CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y,
             CAST(c.c_nationkey AS BIGINT) AS z
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         zm AS (
      SELECT z,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy
      FROM d GROUP BY z),
         res AS (
      SELECT d.x - zm.sx * 1.0 / zm.n AS rx,
             d.y - zm.sy * 1.0 / zm.n AS ry,
             d.x, d.y
      FROM d JOIN zm USING (z)),
         mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(rx * ry / 10000.0) AS BIGINT)) AS BIGINT)
               AS sxy_r,
             CAST(sum(CAST(round(rx * rx / 10000.0) AS BIGINT)) AS BIGINT)
               AS sxx_r,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
      FROM res)
    SELECT n,
           CAST(round(1000000.0 * sxy_r / sxx_r) AS BIGINT) AS fwl_slope_e6,
           CAST(round(1000000.0 * (sxy - sx * 1.0 * sy / n)
                / (sxx - sx * 1.0 * sx / n)) AS BIGINT) AS naive_slope_e6
    FROM mom
"""


@register("q393_fwl_partial_out", _DUCK_FWL)
def q393_fwl_partial_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frisch-Waugh-Lovell partialling-out (Frisch & Waugh,
    Econometrica 1933; Lovell JASA 1963 — the theorem behind modern
    double/debiased ML, Chernozhukov et al. 2018): the effect of
    account balance on order value CONTROLLING for nation equals the
    slope of nation-demeaned y on nation-demeaned x — computed without
    ever building the nation dummy matrix. Reported next to the naive
    (unadjusted) slope: the gap IS the confounding through nation.

    Exactness: group means are rationals of exact integer cent sums;
    residual cross-products quantize to 1e-4-cents^2 units per row
    before summation; the naive slope uses exact wide-integer raw
    moments. Both engines: identical closed forms on identical
    integers.

    100 TB shape: one group-mean aggregate (25 rows, broadcast back),
    one residual-moment pass (map-side combined) — the FWL trick
    replaces a |nations|-column regression with two passes; with
    multiple categorical confounders it iterates (backfitting), each
    round the same two passes."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    d = materialize(orders.join(
        F.broadcast(cust.select("c_custkey", "c_acctbal", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        quantise("c_acctbal", 2).alias("x"),
        quantise("o_totalprice", 2).alias("y"),
        F.col("c_nationkey").cast("bigint").alias("z"),
    ))
    zm = d.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    res = d.join(F.broadcast(zm), "z").select(
        (F.col("x") - F.col("sx") * 1.0 / F.col("n")).alias("rx"),
        (F.col("y") - F.col("sy") * 1.0 / F.col("n")).alias("ry"),
        "x",
        "y",
    )
    mom = res.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("rx") * F.col("ry") / 10000.0).cast("bigint"))
        .cast("bigint")
        .alias("sxy_r"),
        F.sum(F.round(F.col("rx") * F.col("rx") / 10000.0).cast("bigint"))
        .cast("bigint")
        .alias("sxx_r"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
    )
    return mom.select(
        "n",
        F.round(1000000.0 * F.col("sxy_r") / F.col("sxx_r"))
        .cast("bigint")
        .alias("fwl_slope_e6"),
        F.round(
            1000000.0
            * (F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / F.col("n"))
        )
        .cast("bigint")
        .alias("naive_slope_e6"),
    )


# --- q394: A/A calibration of the t-test pipeline (round 6) -----------------
_AA_SPLITS = 20

_DUCK_AA = f"""
    WITH lab AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS y,
             CAST((o_orderkey * 2654435761) % 4294967296 AS BIGINT)
               % {_AA_SPLITS} AS exp_id,
             CAST(((o_orderkey * 2654435761) % 4294967296)
                  // {_AA_SPLITS} AS BIGINT) % 2 AS arm
      FROM orders),
         cells AS (
      SELECT exp_id, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM lab GROUP BY 1, 2),
         wide AS (
      SELECT exp_id,
             max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN sy END) AS sy0,
             max(CASE WHEN arm = 0 THEN syy END) AS syy0,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN sy END) AS sy1,
             max(CASE WHEN arm = 1 THEN syy END) AS syy1
      FROM cells GROUP BY exp_id),
         t AS (
      SELECT exp_id,
             (sy1 * 1.0 / n1 - sy0 * 1.0 / n0)
               / sqrt((syy0 - sy0 * 1.0 * sy0 / n0) / (n0 - 1) / n0
                      + (syy1 - sy1 * 1.0 * sy1 / n1) / (n1 - 1) / n1)
               AS tstat
      FROM wide)
    SELECT CAST(count(*) AS BIGINT) AS n_experiments,
           CAST(sum(CASE WHEN abs(tstat) > 1.959964 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(round(10000.0 * sum(CASE WHEN abs(tstat) > 1.959964
                                         THEN 1 ELSE 0 END) / count(*))
                AS BIGINT) AS fp_rate_bp,
           CAST(round(1000.0 * max(abs(tstat))) AS BIGINT) AS max_abs_t_milli
    FROM t
"""


@register("q394_aa_calibration", _DUCK_AA)
def q394_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test calibration harness (Kohavi/Tang/Xu, 'Trustworthy
    Online Controlled Experiments' 2020, ch.19 — run null experiments
    BEFORE trusting the pipeline): hash orders into 20 pseudo-
    experiments x 2 arms where NO true effect exists, run the q192
    Welch t-test in every cell, and report the false-positive rate —
    a healthy pipeline rejects ~5% at alpha = 0.05; more means broken
    variance math or dependence, the failure A/A tests exist to catch.
    Splits use the q69 Knuth-hash so the harness is reproducible
    across engines and cluster layouts.

    Exactness: all 40 cells are exact integer (n, sum, wide-int
    sum-of-squares) triples from ONE aggregate; t-stats are double
    math on exact integers, thresholded identically.

    100 TB shape: ONE map-side-combinable aggregate keyed
    (experiment, arm) — running 20 experiments costs the same single
    corpus pass as one; the t table is 20 rows."""
    orders = load_table(spark, sf_dir, "orders")
    h = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)
    lab = orders.select(
        quantise("o_totalprice", 2).alias("y"),
        (h % _AA_SPLITS).cast("bigint").alias("exp_id"),
        (F.floor(h / _AA_SPLITS).cast("bigint") % 2).alias("arm"),
    )
    cells = lab.groupBy("exp_id", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    wide = cells.groupBy("exp_id").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("sy"))).alias("sy0"),
        F.max(F.when(F.col("arm") == 0, F.col("syy"))).alias("syy0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("sy"))).alias("sy1"),
        F.max(F.when(F.col("arm") == 1, F.col("syy"))).alias("syy1"),
    )
    tstat = (
        F.col("sy1") * 1.0 / F.col("n1") - F.col("sy0") * 1.0 / F.col("n0")
    ) / F.sqrt(
        (F.col("syy0") - F.col("sy0") * 1.0 * F.col("sy0") / F.col("n0"))
        / (F.col("n0") - 1)
        / F.col("n0")
        + (F.col("syy1") - F.col("sy1") * 1.0 * F.col("sy1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
    )
    t = wide.select("exp_id", tstat.alias("tstat"))
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_experiments"),
        F.sum(F.when(F.abs(F.col("tstat")) > 1.959964, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positives"),
        F.round(
            10000.0
            * F.sum(F.when(F.abs(F.col("tstat")) > 1.959964, 1).otherwise(0))
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("fp_rate_bp"),
        quantise(F.max(F.abs(F.col("tstat"))), 3)
        .alias("max_abs_t_milli"),
    )


# --- q402: O'Brien-Fleming group-sequential monitoring (round 6) ------------
# OBF-shape boundaries z_k = C * sqrt(K / k) with C = z at the final
# look; C = 2.040 gives overall two-sided alpha ~= 0.05 for K = 5
# (O'Brien & Fleming, Biometrics 1979; Jennison & Turnbull 2000, ch.2).
_OBF_C = 2.040
_OBF_K = 5
_DUCK_OBF = f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS dt,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                                                 '#arm')), 1, 15))
                  AS BIGINT) / {_TWO60!r} < 0.5 AS in_a
      FROM orders),
         bounds AS (
      SELECT quantile_disc(dt, 0.2) AS b1, quantile_disc(dt, 0.4) AS b2,
             quantile_disc(dt, 0.6) AS b3, quantile_disc(dt, 0.8) AS b4
      FROM o),
         looked AS (
      SELECT o.*, CASE WHEN dt <= b1 THEN 1 WHEN dt <= b2 THEN 2
                       WHEN dt <= b3 THEN 3 WHEN dt <= b4 THEN 4
                       ELSE 5 END AS lk
      FROM o CROSS JOIN bounds),
         per AS (
      SELECT lk, in_a,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(price_c) AS BIGINT) AS s,
             CAST(sum(CAST(price_c AS HUGEINT) * price_c) AS HUGEINT) AS ss
      FROM looked GROUP BY lk, in_a),
         cum AS (
      SELECT lk, in_a,
             CAST(sum(n) OVER w AS BIGINT) AS n,
             CAST(sum(s) OVER w AS BIGINT) AS s,
             CAST(sum(ss) OVER w AS HUGEINT) AS ss
      FROM per
      WINDOW w AS (PARTITION BY in_a ORDER BY lk ROWS UNBOUNDED PRECEDING)),
         wide AS (
      SELECT lk,
             max(CASE WHEN in_a THEN n END) AS na,
             max(CASE WHEN in_a THEN s END) AS sa,
             max(CASE WHEN in_a THEN ss END) AS ssa,
             max(CASE WHEN NOT in_a THEN n END) AS nb,
             max(CASE WHEN NOT in_a THEN s END) AS sb,
             max(CASE WHEN NOT in_a THEN ss END) AS ssb
      FROM cum GROUP BY lk),
         z AS (
      SELECT lk, na, nb,
             (sa * 1.0 / na - sb * 1.0 / nb)
               / sqrt(((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
                       / (na - 1)) / na
                      + ((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)
                         / (nb - 1)) / nb) AS zval
      FROM wide)
    SELECT lk AS look, na + nb AS n_cum,
           CAST(round(1000.0 * zval) AS BIGINT) AS z_milli,
           CAST(round(1000.0 * {_OBF_C!r} * sqrt({_OBF_K} * 1.0 / lk))
                AS BIGINT) AS boundary_milli,
           CAST(CASE WHEN abs(zval) > {_OBF_C!r} * sqrt({_OBF_K} * 1.0 / lk)
                     THEN 1 ELSE 0 END AS BIGINT) AS crossed
    FROM z ORDER BY look
"""


@register("q402_obrien_fleming", _DUCK_OBF)
def q402_obrien_fleming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring (O'Brien & Fleming,
    Biometrics 1979): five calendar looks at a hash-split A/A of order
    value, each reporting the cumulative Welch z against the
    OBF-shaped boundary C*sqrt(K/k) — extremely conservative early
    (4.56 sigma at look 1) and ~nominal at the final look, which is
    what lets an experimenter PEEK five times while spending only the
    planned alpha (the fix for q394's peeking problem, which q394
    quantifies by NOT correcting). Null data: crossings should be
    rare; the boundary column is the reusable output.

    Exactness: look assignment uses exact discrete date quantiles
    (q141's percentile contract); per-(look, arm) sums are exact
    integers (HUGEINT/decimal squares) cumulated over a 10-row grid;
    z is IEEE-deterministic from those integers, quantized to milli.

    100 TB shape: ONE corpus aggregate to (look, arm) partials —
    map-side combinable; the cumulative window, pivot, and boundary
    arithmetic run on a K*2-row grid. The date-quantile pre-pass is
    an approx-percentile candidate at extreme scale (documented swap,
    q155 precedent)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("bigint")
        .alias("dt"),
        quantise("o_totalprice", 2).alias("price_c"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("o_orderkey").cast("string"), F.lit("#arm"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(_TWO60)
            < 0.5
        ).alias("in_a"),
    )
    bounds = o.agg(
        F.expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY dt)").alias("b1"),
        F.expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY dt)").alias("b2"),
        F.expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY dt)").alias("b3"),
        F.expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY dt)").alias("b4"),
    )
    looked = o.crossJoin(F.broadcast(bounds)).select(
        "price_c",
        "in_a",
        F.when(F.col("dt") <= F.col("b1"), 1)
        .when(F.col("dt") <= F.col("b2"), 2)
        .when(F.col("dt") <= F.col("b3"), 3)
        .when(F.col("dt") <= F.col("b4"), 4)
        .otherwise(5)
        .alias("lk"),
    )
    per = looked.groupBy("lk", "in_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price_c").cast("bigint").alias("s"),
        F.sum(F.col("price_c").cast("decimal(38,0)") * F.col("price_c")).alias("ss"),
    )
    w = (
        Window.partitionBy("in_a")
        .orderBy("lk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "lk",
        "in_a",
        F.sum("n").over(w).cast("bigint").alias("n"),
        F.sum("s").over(w).cast("bigint").alias("s"),
        F.sum("ss").over(w).alias("ss"),
    )
    wide = cum.groupBy("lk").agg(
        F.max(F.when(F.col("in_a"), F.col("n"))).alias("na"),
        F.max(F.when(F.col("in_a"), F.col("s"))).alias("sa"),
        F.max(F.when(F.col("in_a"), F.col("ss"))).alias("ssa"),
        F.max(F.when(~F.col("in_a"), F.col("n"))).alias("nb"),
        F.max(F.when(~F.col("in_a"), F.col("s"))).alias("sb"),
        F.max(F.when(~F.col("in_a"), F.col("ss"))).alias("ssb"),
    )
    var_a = (
        F.col("ssa").cast("double")
        - F.col("sa").cast("double") * F.col("sa") / F.col("na")
    ) / (F.col("na") - 1)
    var_b = (
        F.col("ssb").cast("double")
        - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
    ) / (F.col("nb") - 1)
    zval = (
        F.col("sa") * 1.0 / F.col("na") - F.col("sb") * 1.0 / F.col("nb")
    ) / F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    boundary = _OBF_C * F.sqrt(F.lit(_OBF_K) * 1.0 / F.col("lk"))
    return wide.select(
        F.col("lk").alias("look"),
        (F.col("na") + F.col("nb")).alias("n_cum"),
        quantise(zval, 3).alias("z_milli"),
        quantise(boundary, 3).alias("boundary_milli"),
        F.when(F.abs(zval) > boundary, 1).otherwise(0).cast("bigint").alias("crossed"),
    ).orderBy("look")


# --- q410: delete-one-group jackknife SE of a ratio metric (round 6) --------
_JACK_Q = 100  # replicate ratios are quantised to 1/_JACK_Q cent

_DUCK_JACK = f"""
    WITH o AS (
      SELECT c.c_nationkey AS nk,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS vc
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         g AS (
      SELECT nk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vc) AS BIGINT) AS s
      FROM o GROUP BY nk),
         tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS gg
      FROM g),
         loo AS (
      SELECT g.nk,
             CAST(round((tot.ss - g.s) * 1.0 / (tot.nn - g.n) * {_JACK_Q})
                  AS BIGINT) AS rq
      FROM g CROSS JOIN tot),
         rs AS (
      SELECT CAST(count(*) AS BIGINT) AS gq, CAST(sum(rq) AS BIGINT) AS rsum
      FROM loo),
         jk AS (
      SELECT CAST(count(*) AS BIGINT) AS gg,
             CAST(sum((rs.gq * rq - rs.rsum) * (rs.gq * rq - rs.rsum))
                  AS BIGINT) AS ssq
      FROM loo CROSS JOIN rs),
         v AS (
      SELECT gg, (gg - 1.0) / gg * ssq / (gg * gg * {_JACK_Q * _JACK_Q}.0)
               AS var_j
      FROM jk)
    SELECT tot.gg AS n_groups,
           CAST(round(tot.ss * 1.0 / tot.nn) AS BIGINT) AS ratio_c,
           CAST(round(v.var_j * 1000000.0) AS BIGINT) AS jack_var_e6,
           CAST(round(sqrt(v.var_j) * 1000.0) AS BIGINT) AS jack_se_milli,
           CAST(round((tot.ss * 1.0 / tot.nn - 1.959964 * sqrt(v.var_j)))
                AS BIGINT) AS ci_lo_c,
           CAST(round((tot.ss * 1.0 / tot.nn + 1.959964 * sqrt(v.var_j)))
                AS BIGINT) AS ci_hi_c
    FROM tot CROSS JOIN v
"""


@register("q410_jackknife_ratio_se", _DUCK_JACK)
def q410_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the mean-order-
    value ratio metric (Quenouille 1956; Tukey 1958; the delete-a-
    group variant is the production form — Google's "infinite
    jackknife" lineage): each leave-one-nation-out replicate is
    closed-form from group totals ((S - s_i)/(N - n_i)), so the whole
    resampling scheme costs ONE group-by — no replay of the corpus
    per replicate (the same economics as q193's Poisson bootstrap,
    but deterministic and exactly reproducible). A ratio metric's SE
    has no closed form (denominator is random); the jackknife is the
    standard answer.

    Exactness: group sums exact; each replicate ratio r_i is a double
    of two exact integers, quantised to rq_i = round(r_i * 100), an
    integer count of 1/100 cents. Each deviation is then the exact
    integer g * rq_i - sum(rq), and jack_var = (g-1)/g * sum of their
    squares / (g^2 * 100^2). That sum is a BIGINT, so summation order
    cannot change it; a double sum of squares above 2^53 would depend
    on the order. At sf0.001, the largest deviations of the fixtures,
    it is about 8e17, inside BIGINT under ANSI mode.

    100 TB shape: one (nation)-keyed corpus aggregate behind a
    broadcast dim join; replicates and moments are g-row arithmetic.
    More groups (users, shards) only grows the grid linearly."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        quantise("o_totalprice", 2).alias("vc"),
    )
    # 25-row group frame feeds tot, the replicates, and the final
    # select: checkpoint so the corpus agg runs ONCE (the q296-class
    # multi-consumer rule)
    g = materialize(o.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s"),
    ))
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("gg"),
    )
    tot = materialize(tot)
    loo = materialize(g.crossJoin(F.broadcast(tot)).select(
        "nk",
        F.round(
            (F.col("ss") - F.col("s")) * 1.0 / (F.col("nn") - F.col("n")) * _JACK_Q
        ).cast("bigint").alias("rq"),
    ))
    rs = loo.agg(
        F.count(F.lit(1)).cast("bigint").alias("gq"),
        F.sum("rq").cast("bigint").alias("rsum"),
    )
    dev = F.col("gq") * F.col("rq") - F.col("rsum")
    jk = (
        loo.crossJoin(F.broadcast(rs))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("gg2"),
            F.sum(dev * dev).cast("bigint").alias("ssq"),
        )
    )
    var_j = (
        (F.col("gg2") - 1.0) / F.col("gg2") * F.col("ssq")
        / (F.col("gg2") * F.col("gg2") * float(_JACK_Q * _JACK_Q))
    )
    ratio = F.col("ss") * 1.0 / F.col("nn")
    return tot.crossJoin(F.broadcast(jk)).select(
        F.col("gg").alias("n_groups"),
        F.round(ratio).cast("bigint").alias("ratio_c"),
        quantise(var_j, 6).alias("jack_var_e6"),
        quantise(F.sqrt(var_j), 3).alias("jack_se_milli"),
        F.round(ratio - 1.959964 * F.sqrt(var_j)).cast("bigint").alias("ci_lo_c"),
        F.round(ratio + 1.959964 * F.sqrt(var_j)).cast("bigint").alias("ci_hi_c"),
    )
