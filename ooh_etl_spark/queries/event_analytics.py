"""Tenth coverage wave: product/event analytics over the ``events``
stream — funnel conversion, retention cohorts, Markov transition
counts, first-touch attribution, and growth accounting. The batch
complement of the streaming queries (q33-q37/q46): same table, the
read-side shapes every analytics engine must serve.

Scale notes: every query partitions by user_id or a calendar key —
natural, high-cardinality, skew-free keys; per-user state is a min() or
a lag(), never a collect; outputs are tiny rollups. All-integer or
cents-quantized outputs (q23/q61 precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table

_CONV_DAYS = 7


@register(
    "q97_funnel_conversion",
    f"""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
         p AS (
      SELECT s.user_id,
             min(e.ts) AS first_purchase_ts
      FROM s JOIN events e ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id),
         f AS (
      SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
             CASE WHEN p.first_purchase_ts IS NOT NULL
                   AND date_diff('second', s.signup_ts, p.first_purchase_ts)
                       <= {_CONV_DAYS} * 86400
                  THEN 1 ELSE 0 END AS converted
      FROM s LEFT JOIN p ON s.user_id = p.user_id)
    SELECT count(*) AS n_signup_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(round(10000.0 * sum(converted) / count(*)) AS BIGINT)
             AS conversion_bp
    FROM f
    """,
)
def q97_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: of users who ever signed up, how many
    made their first post-signup purchase within 7 days. Two per-user
    min() aggregates (map-side combined) and one join on user_id — at
    100 TB both sides are already reduced to one row per user before
    anything shuffles. The conversion rate is integer basis points."""
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
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    f = s.join(p, "user_id", "left").select(
        F.when(
            F.col("first_purchase_ts").isNotNull()
            & (
                F.unix_timestamp("first_purchase_ts") - F.unix_timestamp("signup_ts")
                <= _CONV_DAYS * 86400
            ),
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(10000.0 * F.sum("converted") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("conversion_bp"),
    )


@register(
    "q98_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id),
         activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
           CAST(week_offset AS BIGINT) AS week_offset,
           count(*) AS active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort, week_offset
    """,
)
def q98_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week,
    counted as active in each subsequent week. The first-seen reduce is
    one row per user and joins back on user_id (AQE picks broadcast
    while it fits, sort-merge beyond — per-user relations are NOT
    force-broadcast: at 10^9 users they must be allowed to shuffle);
    the DISTINCT collapses (user, week) before the final count so heavy
    users don't skew the shuffle. Week arithmetic stays on date_trunc'd
    timestamps, which both engines align identically (Monday-start
    weeks)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    (
                        F.unix_timestamp(wk) - F.unix_timestamp("cohort_week")
                    )
                    / (7 * 86400)
                )
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            F.col("week_offset").cast("bigint").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort", "week_offset")
    )


@register(
    "q99_transition_matrix",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type, next_type, count(*) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def q99_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user — the input to next-action models and anomaly
    scores. One lead() window over one shuffle on user_id, then a
    25-cell aggregate; the sequence never materializes per user (no
    collect_list), so a user with 10^6 events costs the same per-row
    work as ten users with 10^5."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return (
        o.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "next_type")
    )


@register(
    "q100_first_touch_attribution",
    """
    WITH ft AS (
      SELECT user_id, event_type AS first_touch
      FROM (SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rk
            FROM events)
      WHERE rk = 1),
         rev AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS user_rev_c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT first_touch,
           count(*) AS n_users,
           CAST(sum(coalesce(user_rev_c, 0)) AS BIGINT) AS revenue_c
    FROM ft LEFT JOIN rev USING (user_id)
    GROUP BY first_touch
    ORDER BY first_touch
    """,
)
def q100_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's lifetime purchase value is
    credited to their very first event type. The first-touch pick is a
    per-user top-1 (row_number + filter, the top_k_per_group pattern);
    revenue reduces per user BEFORE the join, so the join moves two
    one-row-per-user relations — the shape that survives a 100x user
    count."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("first_touch"))
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(quantise("value", 2)).alias("user_rev_c"))
    )
    return (
        ft.join(rev, "user_id", "left")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce(F.col("user_rev_c"), F.lit(0)))
            .cast("bigint")
            .alias("revenue_c"),
        )
        .orderBy("first_touch")
    )


@register(
    "q101_growth_accounting",
    """
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id),
         daily AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*) AS dau,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM daily JOIN first_seen USING (user_id)
    GROUP BY day
    ORDER BY day
    """,
)
def q101_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: daily active users split into new (first day
    ever) vs returning. The (user, day) DISTINCT bounds each user's
    contribution to one row per day regardless of event volume; the
    first-seen lookup is one row per user and shares the user_id
    partitioning with the DISTINCT, so the join adds no extra shuffle
    (AQE broadcasts it while small). 30 output rows at any scale."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    daily = ev.select("user_id", day.alias("day")).distinct()
    return (
        daily.join(first_seen, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .orderBy("day")
    )


_BURST_SEC = 86400


@register(
    "q134_error_bursts",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             lag(event_type, 1) OVER w AS t1,
             lag(ts, 1) OVER w AS ts1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           count(*) AS n_bursts,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_burst_end
    FROM o
    WHERE event_type = 'error' AND t1 = 'error'
      AND date_diff('second', ts1, ts) <= {_BURST_SEC}
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q134_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection (the MATCH_RECOGNIZE shape Spark
    lacks): two consecutive 'error' events from one user within 24
    hours. Fixed-length patterns compile to lag() columns — one
    window over one user_id shuffle, no state machine and no
    applyInPandas needed; only unbounded-length patterns (A B* C)
    genuinely need the custom-stateful escape hatch (q46's
    machinery)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("ts", 1).over(w).alias("ts1"),
    )
    burst = o.filter(
        (F.col("event_type") == "error")
        & (F.col("t1") == "error")
        & (F.unix_timestamp("ts") - F.unix_timestamp("ts1") <= _BURST_SEC)
    )
    return (
        burst.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_bursts"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_burst_end"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q212_event_path_trigrams",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         tri AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             count(*) AS n,
             count(DISTINCT user_id) AS n_users
      FROM o WHERE t3 IS NOT NULL
      GROUP BY 1)
    SELECT path, CAST(n AS BIGINT) AS n, CAST(n_users AS BIGINT) AS n_users
    FROM tri
    ORDER BY n DESC, path
    LIMIT 25
    """,
)
def q212_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining at n=3: the most frequent length-3
    event paths across all user journeys (the 'what do users actually
    do' table behind funnel design; Agrawal & Srikant's sequence
    mining collapsed to the fixed-length case that needs no candidate
    generation). Extends q99's first-order transition matrix to
    second-order context — enough to see loops (view>view>view) vs
    progressions (view>cart>purchase).

    Shape: trigram formation is two ``lead`` taps on ONE per-user
    time-ordered window — no collect_list, no self-joins, state is two
    rows deep; then one map-combined aggregate on the path string,
    whose key cardinality is |event_types|^3 (bounded), not corpus
    rows. Top-k lands in TakeOrderedAndProject. The same two-lead
    pattern extends to any fixed n; variable-length mining would move
    to the q28-style candidate-bucket shape instead.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        o.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path"),
            "user_id",
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n"), "path")
        .limit(25)
    )


_MARKOV_ITERS = 20


def _markov_attribution_sql() -> str:
    """Generate the IDENTICAL SQL text both engines run for q222:
    journey construction, removal-variant transition tables, and
    ``_MARKOV_ITERS`` unrolled absorption-probability iterations (p in
    integer ppb; each step's division is the same IEEE double op on
    exact integers, floored — engine-identical)."""
    # Each step references the PREVIOUS p exactly once: the absorbing
    # states ride the transition table as unit self-loops (CONV->CONV,
    # NULL->NULL with cnt=rowsum=1), so no UNION ALL back-reference is
    # needed — a second reference per step would inline the whole
    # subtree twice and blow the plan up exponentially (2^k).
    steps = []
    for k in range(1, _MARKOV_ITERS + 1):
        steps.append(f"""
p{k} AS MATERIALIZED (
  SELECT tv.variant, tv.s,
         CAST(FLOOR((2 * sum(tv.cnt * p.p) + rs.rowsum)
                    / (2.0 * rs.rowsum)) AS BIGINT) AS p
  FROM tv
  JOIN p{k - 1} p ON p.variant = tv.variant AND p.s = tv.t2
  JOIN rowsums rs ON rs.variant = tv.variant AND rs.s = tv.s
  GROUP BY tv.variant, tv.s, rs.rowsum
)""")
    return f"""
WITH fp AS MATERIALIZED (
  SELECT user_id, min(ts) AS p_ts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id),
j AS MATERIALIZED (
  SELECT e.user_id, e.ts, e.event_id, e.event_type,
         CASE WHEN fp.p_ts IS NULL THEN 0 ELSE 1 END AS converted
  FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
  WHERE e.event_type <> 'purchase'
    AND (fp.p_ts IS NULL OR e.ts < fp.p_ts)),
seq AS MATERIALIZED (
  SELECT user_id, event_type AS s, converted,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM j),
trans AS MATERIALIZED (
  SELECT s,
         CASE WHEN nxt IS NOT NULL THEN nxt
              WHEN converted = 1 THEN 'CONV'
              ELSE 'NULL' END AS t,
         count(*) AS cnt
  FROM seq GROUP BY 1, 2),
variants AS MATERIALIZED (
  SELECT 'base' AS variant
  UNION ALL
  SELECT DISTINCT 'rm_' || event_type FROM events
  WHERE event_type <> 'purchase'),
tv AS MATERIALIZED (
  SELECT v.variant, tr.s,
         CASE WHEN v.variant = 'rm_' || tr.t THEN 'NULL'
              ELSE tr.t END AS t2,
         sum(tr.cnt) AS cnt
  FROM trans tr CROSS JOIN variants v
  WHERE v.variant <> 'rm_' || tr.s
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT variant, 'CONV', 'CONV', CAST(1 AS BIGINT) FROM variants
  UNION ALL
  SELECT variant, 'NULL', 'NULL', CAST(1 AS BIGINT) FROM variants),
rowsums AS MATERIALIZED (
  SELECT variant, s, sum(cnt) AS rowsum FROM tv GROUP BY 1, 2),
p0 AS MATERIALIZED (
  SELECT variant, s,
         CAST(CASE WHEN s = 'CONV' THEN 1000000000 ELSE 0 END AS BIGINT)
           AS p
  FROM rowsums),
{",".join(steps)},
starts AS MATERIALIZED (
  SELECT s, count(*) AS cnt FROM seq WHERE rn = 1 GROUP BY s),
conv AS MATERIALIZED (
  SELECT v.variant,
         CAST(FLOOR((2 * sum(st.cnt * pf.p) + tot.n)
                    / (2.0 * tot.n)) AS BIGINT) AS conv_ppb
  FROM variants v
  CROSS JOIN (SELECT sum(cnt) AS n FROM starts) tot
  JOIN starts st ON 1 = 1
  JOIN p{_MARKOV_ITERS} pf
    ON pf.variant = v.variant
   AND pf.s = CASE WHEN v.variant = 'rm_' || st.s THEN 'NULL'
                   ELSE st.s END
  GROUP BY v.variant, tot.n)
SELECT c.variant, c.conv_ppb,
       CAST(CASE WHEN c.variant = 'base' THEN 0
                 ELSE FLOOR(10000.0 * (b.conv_ppb - c.conv_ppb)
                            / b.conv_ppb) END AS BIGINT)
         AS removal_effect_bp
FROM conv c
CROSS JOIN (SELECT conv_ppb FROM conv WHERE variant = 'base') b
ORDER BY c.variant
"""


_MARKOV_SQL = _markov_attribution_sql()


@register("q222_markov_attribution", _MARKOV_SQL)
def q222_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2016 —
    the data-driven alternative to q100's first-touch heuristic):
    journeys truncate at first purchase, a first-order transition
    matrix absorbs into CONV/NULL, and each channel's value is the
    RELATIVE DROP in overall conversion probability when that channel
    is removed (transitions into it redirect to NULL).

    Division of labor — the 100 TB design point of this query: the
    CORPUS-SCALE work (journey truncation, one per-user ordered
    window, one transition aggregate) runs in Spark and REDUCES the
    data to a transition table bounded by |states|² (tens of rows no
    matter the corpus); the 20-step absorption solve over that tiny
    matrix then runs driver-side (the k-means-centroid / piece-table
    precedent) — pushing a 40-row fixed-point loop through 20 nested
    Catalyst plans measurably blows up analysis time while computing
    nothing distributed. The driver loop replicates the ORACLE's
    arithmetic exactly: probabilities in integer ppb, each step's one
    division (2S+R)/(2R) evaluated as the same IEEE double op then
    floored, so no drift can accumulate and the DuckDB single-SQL
    oracle (which unrolls the same 20 steps as CTEs) matches
    bit-for-bit — proving the whole pipeline end-to-end.
    """
    import math

    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    j = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id", "left")
        .filter(F.col("p_ts").isNull() | (F.col("ts") < F.col("p_ts")))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("s"),
            F.col("p_ts").isNotNull().cast("int").alias("converted"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = j.select(
        "s",
        "converted",
        F.lead("s", 1).over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    # Transition counts and start-state counts reduce in ONE job: the
    # start marker rides as a second grouping key ('^' target), so the
    # corpus pass + window run once instead of twice.
    agg_rows = (
        seq.select(
            "s",
            F.coalesce(
                "nxt",
                F.when(F.col("converted") == 1, F.lit("CONV")).otherwise(
                    F.lit("NULL")
                ),
            ).alias("t"),
            (F.col("rn") == 1).cast("int").alias("is_start"),
        )
        .groupBy("s", "t")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("is_start").alias("n_start"),
        )
        .collect()
    )
    trans = {(r["s"], r["t"]): r["cnt"] for r in agg_rows}
    starts: dict[str, int] = {}
    for r in agg_rows:
        if r["n_start"]:
            starts[r["s"]] = starts.get(r["s"], 0) + r["n_start"]
    channels = sorted({s for s, _ in trans})
    variants = ["base"] + [f"rm_{c}" for c in channels]

    def solve(variant: str) -> int:
        rm = variant[3:] if variant != "base" else None
        tv: dict[tuple[str, str], int] = {}
        for (a, b), cnt in trans.items():
            if a == rm:
                continue
            b2 = "NULL" if b == rm else b
            tv[(a, b2)] = tv.get((a, b2), 0) + cnt
        tv[("CONV", "CONV")] = 1
        tv[("NULL", "NULL")] = 1
        rowsum: dict[str, int] = {}
        for (a, _), cnt in tv.items():
            rowsum[a] = rowsum.get(a, 0) + cnt
        p = {a: (1_000_000_000 if a == "CONV" else 0) for a in rowsum}
        for _ in range(20):
            nxt = {}
            for a in rowsum:
                acc = sum(cnt * p[b] for (x, b), cnt in tv.items() if x == a)
                # same IEEE double division + floor the oracle runs
                nxt[a] = int(math.floor((2 * acc + rowsum[a]) / (2.0 * rowsum[a])))
            p = nxt
        total = sum(starts.values())
        acc = sum(
            cnt * p["NULL" if variant == f"rm_{s0}" else s0]
            for s0, cnt in starts.items()
        )
        return int(math.floor((2 * acc + total) / (2.0 * total)))

    conv = {v: solve(v) for v in variants}
    base = conv["base"]
    rows = [
        (
            v,
            conv[v],
            0 if v == "base" else int(math.floor(10000.0 * (base - conv[v]) / base)),
        )
        for v in sorted(variants)
    ]
    return spark.createDataFrame(
        rows, "variant string, conv_ppb long, removal_effect_bp long"
    )


@register(
    "q240_asof_forward",
    """
    WITH s AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'signup'),
         p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         nxt AS (
      SELECT s.event_id, s.user_id, s.ts AS signup_ts,
             min(p.ts) AS next_purchase_ts
      FROM s JOIN p ON p.user_id = s.user_id AND p.ts >= s.ts
      GROUP BY s.event_id, s.user_id, s.ts)
    SELECT event_id, user_id,
           strftime(signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
           strftime(next_purchase_ts, '%Y-%m-%d %H:%M:%S')
             AS next_purchase_ts,
           CAST(date_diff('second', signup_ts, next_purchase_ts) AS BIGINT)
             AS wait_s
    FROM nxt
    ORDER BY event_id
    """,
)
def q240_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — for every signup, the next purchase at or
    after it by the same user (the 'what happened next' lookup:
    next maintenance after a failure, next fill after an order).
    Reuses q13's union-merge as-of operator with
    ``direction="forward"``: the identical one-shuffle linear merge,
    sort reversed — the shuffle still carries |left| + |right| rows
    at ANY per-user history depth, where the oracle's join+min form
    (fine for DuckDB at fixture size) materializes |signup| x
    |later-purchases| pairs and dies at scale. Only tie-safe columns
    project (the next purchase TIMESTAMP, not its payload), per the
    operator's tie contract.
    """
    from ooh_etl_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    j = asof_join(
        s, p, on=("user_id", "p_user"), left_ts="ts", right_ts="p_ts",
        direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("next_purchase_ts"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("ts"))
        .cast("bigint")
        .alias("wait_s"),
    ).orderBy("event_id")


@register(
    "q242_leakage_safe_labels",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events),
         cut AS (
      SELECT lo + CAST(FLOOR(date_diff('day', lo, hi) / 2.0) AS INT)
               AS t0
      FROM bounds),
         feat AS (
      SELECT e.user_id,
             count(*) AS n_pre,
             sum(CASE WHEN e.event_type = 'purchase'
                      THEN CAST(round(e.value * 100) AS BIGINT)
                      ELSE 0 END) AS rev_pre_c,
             count(DISTINCT e.event_type) AS n_types_pre
      FROM events e CROSS JOIN cut
      WHERE CAST(e.ts AS DATE) < cut.t0
      GROUP BY e.user_id),
         lab AS (
      SELECT DISTINCT e.user_id, 1 AS label
      FROM events e CROSS JOIN cut
      WHERE CAST(e.ts AS DATE) >= cut.t0
        AND CAST(e.ts AS DATE) < cut.t0 + 7)
    SELECT f.user_id,
           CAST(f.n_pre AS BIGINT) AS n_pre,
           CAST(f.rev_pre_c AS BIGINT) AS rev_pre_c,
           CAST(f.n_types_pre AS BIGINT) AS n_types_pre,
           CAST(coalesce(l.label, 0) AS BIGINT) AS label
    FROM feat f LEFT JOIN lab l ON l.user_id = f.user_id
    ORDER BY f.user_id
    """,
)
def q242_leakage_safe_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe supervised-dataset construction — the labeling
    pattern every churn/conversion model needs and every naive
    pipeline gets wrong: features aggregate STRICTLY BEFORE the cutoff
    (calendar midpoint, pure date arithmetic off a 1-row broadcast),
    the label is activity in the [cutoff, cutoff+7d) window, and no
    expression can see across the boundary because the two passes
    scan disjoint date filters — temporal leakage is structurally
    impossible, not just unit-tested away. Users with no pre-cutoff
    activity are correctly ABSENT (no feature row), not zero-filled.

    Shape: two filtered per-user aggregates (both map-side combined,
    both benefit from date partition pruning on a date-partitioned
    store) and one user-keyed left join. Output is the model-ready
    (features, label) table; integer cents and counts end-to-end.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    cut = materialize(bounds.select(
        F.date_add(
            F.col("lo"),
            F.floor(F.datediff(F.col("hi"), F.col("lo")) / 2.0).cast("int"),
        ).alias("t0")
    ))  # 1 row; both disjoint passes consume it (the
    # bounds scan would otherwise run once per pass)
    tagged = ev.crossJoin(F.broadcast(cut))
    feat = (
        tagged.filter(F.col("ts").cast("date") < F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pre"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    quantise("value", 2),
                ).otherwise(0)
            ).alias("rev_pre_c"),
            F.countDistinct("event_type").alias("n_types_pre"),
        )
    )
    lab = (
        tagged.filter(
            (F.col("ts").cast("date") >= F.col("t0"))
            & (F.col("ts").cast("date") < F.date_add(F.col("t0"), 7))
        )
        .select("user_id")
        .distinct()
        .withColumn("label", F.lit(1))
    )
    return (
        feat.join(lab, "user_id", "left")
        .select(
            "user_id",
            F.col("n_pre").cast("bigint").alias("n_pre"),
            F.col("rev_pre_c").cast("bigint").alias("rev_pre_c"),
            F.col("n_types_pre").cast("bigint").alias("n_types_pre"),
            F.coalesce(F.col("label"), F.lit(0)).cast("bigint").alias("label"),
        )
        .orderBy("user_id")
    )


@register(
    "q250_audience_overlap",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
         deg AS (
      SELECT event_type, count(*) AS d FROM ut GROUP BY event_type),
         inter AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS i
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.ta, i.tb,
           CAST(i.i AS BIGINT) AS n_overlap,
           CAST(da.d AS BIGINT) AS n_a,
           CAST(db.d AS BIGINT) AS n_b,
           CAST(FLOOR(10000.0 * i.i / (da.d + db.d - i.i)) AS BIGINT)
             AS jaccard_bp
    FROM inter i
    JOIN deg da ON da.event_type = i.ta
    JOIN deg db ON db.event_type = i.tb
    ORDER BY ta, tb
    """,
)
def q250_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the USER
    SETS of every event-type pair — the segmentation readout behind
    'do purchasers also click?' questions and channel-dedup budgeting.
    Same wedge-join + inclusion-exclusion shape as q191's link
    prediction, on the bipartite (user, type) table: intersections
    come from a user-keyed self-join of the DISTINCT membership table
    (fan-out bounded by types-per-user ≤ |types|), unions from
    |A|+|B|−|A∩B| — set sizes never rescan the corpus.

    At extreme set cardinalities the documented swap is q28's
    MinHash (sketch the user sets, estimate Jaccard from signature
    agreement) — the exact form here is the ground truth the sketch
    is tested against. Exact integer counts; one bp division.
    """
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the distinct (user, type) relation: it feeds the
    # degree table and BOTH self-join sides (the distinct shuffle ran
    # 4x otherwise).
    ut = materialize(ev.select("user_id", "event_type").distinct())
    deg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("d"))
    a = ut.select("user_id", F.col("event_type").alias("ta"))
    b = ut.select("user_id", F.col("event_type").alias("tb"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    da = deg.select(F.col("event_type").alias("ta"), F.col("d").alias("da"))
    db = deg.select(F.col("event_type").alias("tb"), F.col("d").alias("db"))
    return (
        inter.join(F.broadcast(da), "ta")
        .join(F.broadcast(db), "tb")
        .select(
            "ta",
            "tb",
            F.col("i").cast("bigint").alias("n_overlap"),
            F.col("da").cast("bigint").alias("n_a"),
            F.col("db").cast("bigint").alias("n_b"),
            F.floor(
                10000.0 * F.col("i") / (F.col("da") + F.col("db") - F.col("i"))
            )
            .cast("bigint")
            .alias("jaccard_bp"),
        )
        .orderBy("ta", "tb")
    )


_GAP_SESSION_MIN = 30  # session gap, matching q35/q78


@register(
    "q264_intersession_gaps",
    f"""
    WITH o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
         gaps AS (
      SELECT CAST(date_diff('second', prev, ts) AS BIGINT) AS gap_s
      FROM o
      WHERE prev IS NOT NULL
        AND date_diff('second', prev, ts) >= {_GAP_SESSION_MIN} * 60)
    SELECT count(*) AS n_gaps,
           CAST(quantile_disc(gap_s, 0.25) AS BIGINT) AS p25_s,
           CAST(quantile_disc(gap_s, 0.50) AS BIGINT) AS p50_s,
           CAST(quantile_disc(gap_s, 0.75) AS BIGINT) AS p75_s,
           CAST(max(gap_s) AS BIGINT) AS max_s
    FROM gaps
    """,
)
def q264_intersession_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-session gap distribution — the habit/retention statistic
    between q35's sessions: gaps LONGER than the session threshold are
    by definition the pauses between sessions, and their quartiles
    say whether users return hourly, daily, or weekly (the input to
    churn-definition choices like q242's 7-day label window and to
    push-notification timing). Same one user-keyed lag window as the
    sessionizers; gaps are exact integer seconds; discrete quartiles
    need no quantization (q141's contract).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "ts", F.lag("ts").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    gaps = o.select(
        (F.unix_timestamp("ts") - F.unix_timestamp("prev"))
        .cast("bigint")
        .alias("gap_s")
    ).filter(F.col("gap_s") >= _GAP_SESSION_MIN * 60)

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY gap_s)")

    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        disc(0.25).cast("bigint").alias("p25_s"),
        disc(0.50).cast("bigint").alias("p50_s"),
        disc(0.75).cast("bigint").alias("p75_s"),
        F.max("gap_s").cast("bigint").alias("max_s"),
    )


@register(
    "q265_actor_concentration",
    """
    WITH per_user AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         cuts AS (
      SELECT CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99,
             CAST(quantile_disc(n, 0.90) AS BIGINT) AS p90
      FROM per_user),
         tot AS (
      SELECT count(*) AS n_users, sum(n) AS n_events FROM per_user)
    SELECT t.n_users,
           CAST(t.n_events AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN u.n >= c.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS top1pct_users,
           CAST(FLOOR(10000.0 * sum(CASE WHEN u.n >= c.p99
                                         THEN u.n ELSE 0 END)
                / t.n_events) AS BIGINT) AS top1pct_share_bp,
           CAST(FLOOR(10000.0 * sum(CASE WHEN u.n >= c.p90
                                         THEN u.n ELSE 0 END)
                / t.n_events) AS BIGINT) AS top10pct_share_bp
    FROM per_user u CROSS JOIN cuts c CROSS JOIN tot t
    GROUP BY t.n_users, t.n_events
    """,
)
def q265_actor_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actor-concentration screen — what share of all activity the
    heaviest 1% / 10% of users generate (the first number an abuse
    team pulls: organic products sit well under 50% for the top 1%;
    bot-infested ones don't), and the aggregate twin of q197's Gini.
    Thresholds are exact discrete percentiles of the per-user count
    distribution reduced to a 1-ROW BROADCAST (the q254 move — no
    global user sort); shares are exact integer counts in bp.

    Shape: ONE per-user reduce is the only corpus pass; the share
    census re-reduces the user-grain table against broadcast cuts.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    cuts = per_user.agg(
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p99"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p90"),
    )
    tot = per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("n").alias("n_events")
    )
    return (
        per_user.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(tot))
        .groupBy("n_users", "n_events")
        .agg(
            F.sum((F.col("n") >= F.col("p99")).cast("long"))
            .cast("bigint")
            .alias("top1pct_users"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("n") >= F.col("p99"), F.col("n")).otherwise(0))
                / F.first("n_events")
            )
            .cast("bigint")
            .alias("top1pct_share_bp"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("n") >= F.col("p90"), F.col("n")).otherwise(0))
                / F.first("n_events")
            )
            .cast("bigint")
            .alias("top10pct_share_bp"),
        )
        .select(
            "n_users",
            F.col("n_events").cast("bigint").alias("n_events"),
            "top1pct_users",
            "top1pct_share_bp",
            "top10pct_share_bp",
        )
    )


@register(
    "q267_behavior_entropy",
    """
    WITH ut AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type),
         u AS (
      SELECT user_id, sum(c) AS n FROM ut GROUP BY user_id),
         ent AS (
      SELECT ut.user_id,
             sum(CAST(round(-1000000.0 * (ut.c * 1.0 / u.n)
                            * ln(ut.c * 1.0 / u.n)) AS BIGINT)) AS h_u
      FROM ut JOIN u ON u.user_id = ut.user_id
      GROUP BY ut.user_id)
    SELECT CAST(h_u // 200000 AS BIGINT) AS entropy_bucket,
           count(*) AS n_users,
           CAST(min(h_u) AS BIGINT) AS min_h_u,
           CAST(max(h_u) AS BIGINT) AS max_h_u
    FROM ent
    GROUP BY 1
    ORDER BY entropy_bucket
    """,
)
def q267_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity census: Shannon entropy of each user's
    event-type mix (0 = single-action users — often bots or broken
    clients; ln 5 ≈ 1.61 = uniform across all five types), bucketed
    at 0.2-nat steps — the segmentation histogram behind 'are our
    actives diverse or single-feature'. Per-term −p·ln p quantizes to
    micro-nats on exact integer ratios BEFORE the per-user sum (q187
    contract), so bucket boundaries are engine-exact.

    Shape: one (user, type) reduce, one user-total reduce joined back
    (both map-side combinable, user-keyed, skew-free), then a
    9-bucket census. Per-user state never exceeds |event_types|.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = ut.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        ut.join(u, "user_id")
        .select(
            "user_id",
            F.round(-1000000.0 * p * F.log(p)).cast("bigint").alias("term_u"),
        )
        .groupBy("user_id")
        .agg(F.sum("term_u").alias("h_u"))
    )
    return (
        ent.groupBy(
            F.floor(F.col("h_u") / 200000).cast("bigint").alias("entropy_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("h_u").cast("bigint").alias("min_h_u"),
            F.max("h_u").cast("bigint").alias("max_h_u"),
        )
        .orderBy("entropy_bucket")
    )


@register(
    "q269_funnel_step_latency",
    """
    WITH firsts AS (
      SELECT user_id, event_type, min(ts) AS first_ts
      FROM events
      WHERE event_type IN ('view', 'click', 'signup', 'purchase')
      GROUP BY user_id, event_type),
         steps(step_from, step_to) AS (
      VALUES ('view', 'click'), ('click', 'signup'),
             ('signup', 'purchase')),
         lat AS (
      SELECT s.step_from, s.step_to,
             CAST(date_diff('second', a.first_ts, b.first_ts) AS BIGINT)
               AS delay_s
      FROM steps s
      JOIN firsts a ON a.event_type = s.step_from
      JOIN firsts b ON b.event_type = s.step_to
                   AND b.user_id = a.user_id
      WHERE b.first_ts >= a.first_ts)
    SELECT step_from, step_to,
           count(*) AS n_users,
           CAST(quantile_disc(delay_s, 0.5) AS BIGINT) AS p50_s,
           CAST(quantile_disc(delay_s, 0.9) AS BIGINT) AS p90_s
    FROM lat
    GROUP BY step_from, step_to
    ORDER BY step_from, step_to
    """,
)
def q269_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step latencies — the time-between-milestones table that
    turns q97's conversion RATE into a WHERE-is-it-slow diagnosis:
    for each adjacent funnel step (first view→first click→first
    signup→first purchase), the median and p90 delay among users who
    completed the step in order. q141 measured one edge; this walks
    the whole funnel with ordered-milestone semantics (later first-
    event must not precede the earlier one).

    Shape: ONE (user, type) first-event reduce — the only corpus pass
    — then the step table (a 3-row literal) joins the user-grain
    milestones twice; exact integer seconds, discrete percentiles per
    step.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(
            F.col("event_type").isin("view", "click", "signup", "purchase")
        )
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"))
    )
    steps = spark.createDataFrame(
        [("view", "click"), ("click", "signup"), ("signup", "purchase")],
        "step_from string, step_to string",
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("step_from"),
        F.col("first_ts").alias("ts_a"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("step_to"),
        F.col("first_ts").alias("ts_b"),
    )
    lat = (
        F.broadcast(steps)
        .join(a, "step_from")
        .join(b, ["user_id", "step_to"])
        .filter(F.col("ts_b") >= F.col("ts_a"))
        .select(
            "step_from",
            "step_to",
            (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a"))
            .cast("bigint")
            .alias("delay_s"),
        )
    )

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY delay_s)")

    return (
        lat.groupBy("step_from", "step_to")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            disc(0.5).cast("bigint").alias("p50_s"),
            disc(0.9).cast("bigint").alias("p90_s"),
        )
        .orderBy("step_from", "step_to")
    )


@register(
    "q273_revenue_retention",
    """
    WITH fp AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_wk
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         rev AS (
      SELECT f.cohort_wk,
             CAST(date_diff('week', f.cohort_wk,
                            date_trunc('week', e.ts)) AS BIGINT)
               AS week_offset,
             sum(CAST(round(e.value * 100) AS BIGINT)) AS rev_c
      FROM events e JOIN fp f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
         base AS (
      SELECT cohort_wk, rev_c AS rev0_c FROM rev WHERE week_offset = 0)
    SELECT strftime(r.cohort_wk, '%Y-%m-%d') AS cohort,
           r.week_offset,
           CAST(r.rev_c AS BIGINT) AS revenue_c,
           CAST(FLOOR(10000.0 * r.rev_c / b.rev0_c) AS BIGINT)
             AS retention_bp
    FROM rev r JOIN base b ON b.cohort_wk = r.cohort_wk
    ORDER BY cohort, week_offset
    """,
)
def q273_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention matrix — q98's user-retention triangle
    with DOLLARS instead of heads: each first-purchase weekly cohort's
    revenue in week offset w as basis points of its week-0 revenue
    (the SaaS NRR curve; >10000 bp past week 0 means expansion beats
    churn). User cohorts anchor at FIRST PURCHASE (not first touch —
    revenue retention starts when revenue starts).

    Shape: q98's exact plan shape — one first-purchase reduce joined
    back, one (cohort, offset) revenue aggregate, the week-0 column
    joined as a per-cohort 1-row base. Integer cents; bp by one
    division on exact ints.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    wk = F.date_trunc("week", F.col("ts"))
    fp = p.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    rev = materialize(
        p.join(fp, "user_id")
        .select(
            "cohort_wk",
            F.floor(
                (F.unix_timestamp(wk) - F.unix_timestamp("cohort_wk"))
                / (7 * 86400)
            )
            .cast("bigint")
            .alias("week_offset"),
            quantise("value", 2).alias("v_c"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.sum("v_c").alias("rev_c"))
        # (cohort, offset) rows; feeds the week-0
        # base AND the final join (the purchase rollup ran twice)
    )
    base = rev.filter(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("rev_c").alias("rev0_c")
    )
    return (
        rev.join(base, "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort"),
            "week_offset",
            F.col("rev_c").cast("bigint").alias("revenue_c"),
            F.floor(10000.0 * F.col("rev_c") / F.col("rev0_c"))
            .cast("bigint")
            .alias("retention_bp"),
        )
        .orderBy("cohort", "week_offset")
    )


# --- q292: row-pattern recognition (MATCH_RECOGNIZE re-expression) -------
_SEQ_PATTERN = "v[^e]*?c[^e]*?p"  # view -> click -> purchase, no error between

_DUCK_SEQ = f"""
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'error' THEN 'e'
                  ELSE 's' END AS ch
      FROM events),
         journeys AS (
      SELECT user_id,
             string_agg(ch, '' ORDER BY ts, event_id) AS journey
      FROM coded GROUP BY user_id),
         matched AS (
      SELECT user_id,
             len(regexp_extract_all(journey, '{_SEQ_PATTERN}')) AS conv
      FROM journeys)
    SELECT CAST(conv AS BIGINT) AS conversions,
           count(*) AS n_users
    FROM matched GROUP BY 1 ORDER BY conversions
"""


@register("q292_sequence_pattern", _DUCK_SEQ)
def q292_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition — SQL:2016 MATCH_RECOGNIZE's core case
    (Zemke et al., SIGMOD record 2007 proposal), which Spark SQL lacks
    as syntax — re-expressed Spark-first: encode each event as one
    character, reduce each user's time-ordered history to a journey
    string, and count PATTERN (view -> click -> purchase with no error
    between) occurrences with a lazy regex, exactly MATCH_RECOGNIZE's
    SKIP PAST LAST ROW semantics (non-overlapping, leftmost-first —
    verified identical between Java regex and DuckDB's RE2 on lazy
    quantifiers). Output: users bucketed by conversion count.

    Order-stability: the journey is built from
    ``sort_array(collect_list(struct(ts, event_id, ch)))`` — the
    struct sort makes the aggregation order-free (any partitioning
    yields the same string), mirrored by the oracle's
    ``string_agg(... ORDER BY ts, event_id)``.

    100 TB shape: ONE shuffle on user_id; per-user state is the
    journey string (bounded by per-user event count — cap with a
    time-windowed slice for power users); the regex scan is linear,
    JVM-side. The streaming twin of this shape is
    ``transformWithState`` with the journey as value state (q122,
    env-gated)."""
    ev = load_table(spark, sf_dir, "events")
    coded = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "error", "e")
        .otherwise("s")
        .alias("ch"),
    )
    journeys = coded.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda t: t.getField("ch"),
            ),
            "",
        ).alias("journey")
    )
    matched = journeys.select(
        "user_id",
        F.regexp_count(F.col("journey"), F.lit(_SEQ_PATTERN)).alias("conv"),
    )
    return (
        matched.groupBy(F.col("conv").cast("bigint").alias("conversions"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("conversions")
    )


# --- q304: exact Shapley-value channel attribution -----------------------
_DUCK_SHAPLEY = """
    WITH u AS (
      SELECT user_id,
             bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END)
               AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id),
         mc AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS c
                FROM u GROUP BY mask),
         subsets AS (SELECT s FROM generate_series(0, 15) AS g(s)),
         vs AS (
      SELECT subsets.s,
             CAST(coalesce(sum(CASE WHEN (mc.mask & subsets.s) = mc.mask
                                    THEN mc.c END), 0) AS BIGINT) AS v
      FROM subsets LEFT JOIN mc ON true GROUP BY subsets.s),
         ch AS (SELECT * FROM (VALUES (1, 'view'), (2, 'click'),
                                      (4, 'signup'), (8, 'error'))
                AS t(bit, channel)),
         phi AS (
      SELECT ch.channel,
             sum((CASE bit_count(vs0.s) WHEN 0 THEN 6.0 WHEN 1 THEN 2.0
                  WHEN 2 THEN 2.0 WHEN 3 THEN 6.0 END / 24.0)
                 * (vs1.v - vs0.v)) AS phi
      FROM ch
      JOIN vs vs0 ON (vs0.s & ch.bit) = 0
      JOIN vs vs1 ON vs1.s = vs0.s + ch.bit
      GROUP BY ch.channel),
         tot AS (SELECT sum(phi) AS t FROM phi)
    SELECT phi.channel,
           CAST(round(1000000.0 * phi.phi) AS BIGINT) AS phi_e6,
           CAST(round(10000.0 * phi.phi / tot.t) AS BIGINT) AS share_bp
    FROM phi CROSS JOIN tot
    ORDER BY phi.channel
"""


@register("q304_shapley_attribution", _DUCK_SHAPLEY)
def q304_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value marketing attribution (Shapley 1953; the
    axiomatic answer to 'which channel deserves credit', next to
    q100's first-touch and q222's Markov removal effects): with n=4
    non-purchase channels the 2^4 coalition lattice is enumerable, so
    phi_i = sum_S w(|S|) [v(S+i) - v(S)] is CLOSED-FORM relational
    algebra — no sampling, no permutations. The characteristic
    function v(S) counts conversions among users whose touched-channel
    set fits inside S (computed from a 16-row mask rollup via a
    subset-containment join, the zeta transform).

    Efficiency axiom (property-tested): sum(phi_i) = v(N) - v(empty).

    Determinism: masks and v(S) are integers (bit_or rollup); the 8
    weighted terms per channel use exact binary fractions (6/24,
    2/24). 100 TB shape: ONE user shuffle for the mask rollup, then
    everything runs on the 16-row mask table; at n channels the
    lattice is 2^n rows — exact to ~20 channels, beyond which the
    standard move is permutation sampling over the same mask table."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 "
            "WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END)"
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    mc = u.groupBy("mask").agg(F.sum("conv").cast("bigint").alias("c"))
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    vs = (
        subsets.crossJoin(F.broadcast(mc))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.expr("(mask & s) = mask"), F.col("c")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("v")
        )
    )
    # checkpoint the 16-row characteristic function: it feeds BOTH
    # sides of the marginal-contribution join (and phi below feeds the
    # efficiency total) — without it each consumer re-runs the corpus
    # user-mask rollup (audited: 4 user-shuffles in the plan).
    vs = materialize(vs)
    ch = spark.createDataFrame(
        [(1, "view"), (2, "click"), (4, "signup"), (8, "error")],
        "bit int, channel string",
    )
    vs0 = vs.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vs1 = vs.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    w = (
        F.when(F.bit_count("s0") == 0, 6.0)
        .when(F.bit_count("s0") == 1, 2.0)
        .when(F.bit_count("s0") == 2, 2.0)
        .otherwise(6.0)
        / 24.0
    )
    phi = materialize(
        ch.join(vs0, F.expr("(s0 & bit) = 0"))
        .join(vs1, F.expr("s1 = s0 + bit"))
        .groupBy("channel")
        .agg(F.sum(w * (F.col("v1") - F.col("v0"))).alias("phi"))
    )  # 4 rows; feeds both the output and the total
    tot = phi.agg(F.sum("phi").alias("t"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            quantise("phi", 6).alias("phi_e6"),
            F.round(10000.0 * F.col("phi") / F.col("t"))
            .cast("bigint")
            .alias("share_bp"),
        )
        .orderBy("channel")
    )


# --- q344: COEC position-bias normalization (round 6) ----------------------
_COEC_MAX_POS = 10

_DUCK_COEC = f"""
    WITH o AS (
      SELECT event_type,
             least(CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS BIGINT),
                   {_COEC_MAX_POS}) AS pos,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      FROM events),
         pctr AS (
      SELECT pos, sum(is_click) * 1.0 / count(*) AS ctr
      FROM o GROUP BY pos),
         agg AS (
      SELECT o.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(o.is_click) AS BIGINT) AS clicks,
             sum(pctr.ctr) AS expected
      FROM o JOIN pctr USING (pos) GROUP BY o.event_type)
    SELECT event_type, n_events, clicks,
           CAST(round(1000.0 * expected) AS BIGINT) AS expected_milli,
           CAST(round(1000.0 * clicks / expected) AS BIGINT) AS coec_milli
    FROM agg ORDER BY event_type
"""


@register("q344_coec_position_bias", _DUCK_COEC)
def q344_coec_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks-over-expected-clicks (COEC — Zhang & Jones 2007; the
    position-bias normalization every ranking/ads team applies before
    comparing CTRs): raw CTR confounds item quality with display
    position, so each segment's clicks are divided by the clicks
    EXPECTED given the positions it was shown at (sum of global
    per-position CTRs over its impressions). COEC > 1000 milli =
    better than position-expected. Position = rank within the user's
    event sequence, capped at {_COEC_MAX_POS} (the tail pools, the
    standard truncation).

    Determinism: positions are integer ranks with event_id
    tie-breaks; the per-position CTRs are exact count ratios; the
    expected sum adds one double per row from a {_COEC_MAX_POS}-value
    domain — identical accumulation in both engines after the
    position join, and outputs quantize to milli.

    100 TB shape: one user-partitioned rank window (the q99/q100
    sessionizer shuffle), a {_COEC_MAX_POS}-row CTR broadcast joined
    back, one segment aggregate. The same two-pass shape computes any
    examination-model correction (PBM weights swap in for ctr)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = materialize(ev.select(
        "event_type",
        F.least(
            F.row_number().over(w).cast("bigint"), F.lit(_COEC_MAX_POS)
        ).alias("pos"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "is_click"
        ),
    ))  # the positioned stream feeds the per-position
    # CTR table AND the segment aggregate (one rank window, not two)
    pctr = o.groupBy("pos").agg(
        (F.sum("is_click") * 1.0 / F.count(F.lit(1))).alias("ctr")
    )
    agg = (
        o.join(F.broadcast(pctr), "pos")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_click").cast("bigint").alias("clicks"),
            F.sum("ctr").alias("expected"),
        )
    )
    return agg.select(
        "event_type",
        "n_events",
        "clicks",
        quantise("expected", 3).alias("expected_milli"),
        F.round(1000.0 * F.col("clicks") / F.col("expected"))
        .cast("bigint")
        .alias("coec_milli"),
    ).orderBy("event_type")


# --- q347: Markov-chain held-out perplexity (round 6) ----------------------
_MK_ALPHA = 1  # add-one smoothing on transition counts

_DUCK_MARKOV_PPL = f"""
    WITH seq AS (
      SELECT user_id, user_id % 2 AS fold, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
         train AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE fold = 0 AND next_type IS NOT NULL GROUP BY 1, 2),
         states AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS v FROM seq),
         row_tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS ct FROM train GROUP BY 1),
         test AS (
      SELECT event_type, next_type FROM seq
      WHERE fold = 1 AND next_type IS NOT NULL),
         nll AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(round(-1000000.0 * ln(
               (coalesce(train.c, 0) + {_MK_ALPHA}) * 1.0
               / (coalesce(row_tot.ct, 0) + {_MK_ALPHA} * states.v)
             )) AS BIGINT)) AS BIGINT) AS nll_u
      FROM test
      LEFT JOIN train USING (event_type, next_type)
      LEFT JOIN row_tot USING (event_type)
      CROSS JOIN states)
    SELECT CAST(n AS BIGINT) AS n_transitions, nll_u,
           CAST(round(exp(nll_u / (1000000.0 * n)) * 1000) AS BIGINT)
             AS perplexity_milli
    FROM nll
"""


@register("q347_markov_heldout_ppl", _DUCK_MARKOV_PPL)
def q347_markov_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of the first-order behavior Markov chain —
    the eval loop q99's transition matrix needs before anyone ships
    it as a next-action model: train add-one-smoothed transition
    probabilities on even users, score odd users' transitions by
    accumulated negative log-likelihood, report perplexity (the
    standard LM eval, applied to event sequences; Manning & Schutze
    ch. 6 for the smoothing). Unseen (state, next) pairs cost the
    smoothed floor instead of breaking the product — the reason
    add-one and not MLE.

    Determinism: per-transition NLL quantizes to micro-nats BEFORE
    the sum (the q187 ln contract), so the corpus reduction is an
    order-free integer sum; counts are exact.

    100 TB shape: one user-partitioned lead() window (shared by both
    folds — the checkpoint), a |states|^2-bounded transition table
    broadcast back, one combinable NLL aggregate. Streaming twin:
    the same broadcast scores a live stream per micro-batch."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = materialize(ev.select(
        (F.col("user_id") % 2).alias("fold"),
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ))  # ONE window pass feeds train, vocab, and test
    train = (
        seq.filter((F.col("fold") == 0) & F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    states = seq.agg(
        F.countDistinct("event_type").cast("bigint").alias("v")
    )
    row_tot = train.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("ct")
    )
    test = seq.filter((F.col("fold") == 1) & F.col("next_type").isNotNull())
    p = (F.coalesce(F.col("c"), F.lit(0)) + _MK_ALPHA) * 1.0 / (
        F.coalesce(F.col("ct"), F.lit(0)) + _MK_ALPHA * F.col("v")
    )
    nll = (
        test.join(F.broadcast(train), ["event_type", "next_type"], "left")
        .join(F.broadcast(row_tot), "event_type", "left")
        .crossJoin(F.broadcast(states))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                quantise(-F.log(p), 6)
            )
            .cast("bigint")
            .alias("nll_u"),
        )
    )
    return nll.select(
        F.col("n").cast("bigint").alias("n_transitions"),
        "nll_u",
        quantise(F.exp(F.col("nll_u") / (1000000.0 * F.col("n"))), 3)
        .alias("perplexity_milli"),
    )


# --- q380: negative-binomial overdispersion fit (round 6) -------------------
_DUCK_NEGBIN = """
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id),
         mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS scc
      FROM per_user),
         mv AS (
      SELECT n, sc * 1.0 / n AS mu,
             (scc - sc * 1.0 * sc / n) / (n - 1) AS var
      FROM mom)
    SELECT n AS n_users,
           CAST(round(1000.0 * mu) AS BIGINT) AS mean_milli,
           CAST(round(1000.0 * var) AS BIGINT) AS var_milli,
           CAST(round(1000000.0 * (var - mu) / (mu * mu)) AS BIGINT)
             AS alpha_e6,
           CAST(round(1000.0 * (CASE WHEN var > mu
                  THEN mu * mu / (var - mu) ELSE 0 END)) AS BIGINT)
             AS r_milli,
           CAST(round(1000000.0 * (CASE WHEN var > mu
                  THEN mu / var ELSE 1.0 END)) AS BIGINT) AS p_e6,
           CAST(CASE WHEN var > mu THEN 1 ELSE 0 END AS BIGINT)
             AS overdispersed
    FROM mv
"""


@register("q380_negbin_moments", _DUCK_NEGBIN)
def q380_negbin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit (Greenwood & Yule,
    JRSS 1920; Cameron & Trivedi 'Regression Analysis of Count Data')
    to per-user event counts: alpha = (var - mu)/mu^2 is the
    overdispersion index (0 = Poisson), r = mu^2/(var - mu) and
    p = mu/var the NB parameters — the distributional upgrade of
    q230's Fano factor that q193's Poisson bootstrap implicitly
    assumes away, and the standard first model for per-user activity
    heterogeneity.

    Exactness: per-user counts are integers; the three moment sums are
    exact wide integers; both engines run the same closed form.

    100 TB shape: one map-side-combinable count aggregate keyed on
    user, one three-number moment reduction. Nothing else."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("double")
        .alias("scc"),
    )
    mu = F.col("sc") * 1.0 / F.col("n")
    var = (F.col("scc") - F.col("sc") * 1.0 * F.col("sc") / F.col("n")) / (
        F.col("n") - 1
    )
    mv = mom.select(F.col("n"), mu.alias("mu"), var.alias("var"))
    return mv.select(
        F.col("n").alias("n_users"),
        quantise("mu", 3).alias("mean_milli"),
        quantise("var", 3).alias("var_milli"),
        F.round(1000000.0 * (F.col("var") - F.col("mu")) / (F.col("mu") * F.col("mu")))
        .cast("bigint")
        .alias("alpha_e6"),
        quantise(
            F.when(
              F.col("var") > F.col("mu"),
              F.col("mu") * F.col("mu") / (F.col("var") - F.col("mu")),
          ).otherwise(0.0),
            3,
        )
        .alias("r_milli"),
        quantise(F.when(F.col("var") > F.col("mu"), F.col("mu") / F.col("var")).otherwise(1.0), 6)
        .alias("p_e6"),
        F.when(F.col("var") > F.col("mu"), 1).otherwise(0).cast("bigint").alias(
            "overdispersed"
        ),
    )


# --- round-12 wave: q459 trigger-interval sizing curve ------------------------

_TRIGGER_GRID = (60, 300, 900, 3600)  # seconds

_DUCK_TRIGGER = f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in _TRIGGER_GRID)}])
                 AS trigger_s),
         b AS (
      SELECT g.trigger_s,
             CAST(floor(epoch(ts)) AS BIGINT) // g.trigger_s AS batch,
             user_id
      FROM read_parquet_events e CROSS JOIN g),
         per_batch AS (
      SELECT trigger_s, batch,
             count(*) AS ev,
             count(DISTINCT user_id) AS touched
      FROM b GROUP BY trigger_s, batch)
    SELECT trigger_s,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST((1000 * sum(ev)) // count(*) AS BIGINT) AS ev_per_batch_milli,
           CAST(max(ev) AS BIGINT) AS ev_per_batch_max,
           CAST((1000 * sum(touched)) // count(*) AS BIGINT)
             AS state_updates_milli
    FROM per_batch GROUP BY trigger_s ORDER BY trigger_s
""".replace("read_parquet_events", "events")


@register("q459_trigger_interval_curve", _DUCK_TRIGGER)
def q459_trigger_interval_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch trigger-interval sizing curve — the Structured
    Streaming capacity question ('Trigger.ProcessingTime of what?')
    answered from the event history: for each candidate interval,
    the non-empty micro-batch count, events per batch (mean/max — the
    per-batch work the sink must absorb), and per-batch distinct-key
    touches (the state-store update volume a q46-style stateful agg
    would pay). Long triggers amortize fixed batch overhead but grow
    the max-batch spike the executor must fit; this is the measured
    trade-off curve.

    Determinism: batch = floor-epoch-seconds div interval — pure
    integer arithmetic; all outputs are integer counts or integer
    milli-ratios.

    100 TB shape: one pass, map-side-combinable (interval, batch)
    aggregate (|grid| x corpus rows in the explode, but each is a
    narrow int pair), then a |grid|-row reduce. No joins, no windows."""
    ev = load_table(spark, sf_dir, "events")
    grid = spark.createDataFrame(
        [(s,) for s in _TRIGGER_GRID], "trigger_s BIGINT"
    )
    b = ev.crossJoin(F.broadcast(grid)).select(
        "trigger_s",
        (F.unix_timestamp("ts").cast("bigint") / F.col("trigger_s"))
        .cast("bigint")
        .alias("batch"),
        "user_id",
    )
    per_batch = b.groupBy("trigger_s", "batch").agg(
        F.count(F.lit(1)).alias("ev"),
        F.countDistinct("user_id").alias("touched"),
    )
    return (
        per_batch.groupBy("trigger_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.expr("(1000 * sum(ev)) div count(*)")
            .cast("bigint")
            .alias("ev_per_batch_milli"),
            F.max("ev").cast("bigint").alias("ev_per_batch_max"),
            F.expr("(1000 * sum(touched)) div count(*)")
            .cast("bigint")
            .alias("state_updates_milli"),
        )
        .orderBy("trigger_s")
    )


# --- round-12 wave: q467 stateful-stream TTL sizing curve ---------------------

_TTL_GRID = (3600, 21600, 86400, 259200)  # seconds: 1h / 6h / 24h / 72h

_DUCK_TTL = f"""
    WITH g AS (SELECT CAST(unnest([{", ".join(str(x) for x in _TTL_GRID)}])
                 AS BIGINT) AS ttl_s),
         e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         gaps AS (
      SELECT user_id, us,
             us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap_us
      FROM e),
         per_user AS (
      SELECT g.ttl_s, user_id,
             max(us) AS last_us,
             count(*) FILTER (WHERE gap_us > g.ttl_s * 1000000) AS recreations
      FROM gaps CROSS JOIN g GROUP BY g.ttl_s, user_id),
         mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
    SELECT ttl_s,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE last_us >= m - ttl_s * 1000000)
                AS BIGINT) AS live_at_end,
           CAST(sum(recreations) AS BIGINT) AS recreations,
           CAST(count(*) + sum(recreations) AS BIGINT) AS total_creations
    FROM per_user CROSS JOIN mx
    GROUP BY ttl_s ORDER BY ttl_s
"""


@register("q467_state_ttl_curve", _DUCK_TTL)
def q467_state_ttl_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-stream TTL sizing curve — the state-store eviction
    question a q46/q122-style per-key aggregation must answer
    ('what TTL keeps memory bounded without churning state?'): for
    each candidate TTL, how many key states are still live at the end
    of the history, and how many times a state would have been
    evicted-then-recreated (an inter-event gap exceeding the TTL —
    each recreation is a lost accumulator plus a state-store write).
    Short TTLs bound memory but pay recreation churn; this measures
    both sides.

    Determinism: all arithmetic on exact microsecond epochs
    (unix_micros / epoch_us); outputs are integer counts.

    100 TB shape: the lag window is PARTITIONED BY the state key
    (user) — the same key the state store shards on, so the window
    never concentrates; the TTL grid joins the |users|-row gap census,
    not the event stream; the global max-ts is a broadcast scalar."""
    ev = load_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ (fixture encoding); unix_micros
    # requires TIMESTAMP — session TZ is pinned UTC so the cast is exact.
    e = ev.select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = e.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    grid = spark.createDataFrame([(s,) for s in _TTL_GRID], "ttl_s BIGINT")
    per_user = (
        gaps.crossJoin(F.broadcast(grid))
        .groupBy("ttl_s", "user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.sum(
                F.when(F.col("gap_us") > F.col("ttl_s") * 1000000, 1).otherwise(0)
            ).alias("recreations"),
        )
    )
    mx = e.agg(F.max("us").alias("m"))
    return (
        per_user.crossJoin(F.broadcast(mx))
        .groupBy("ttl_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(
                F.when(
                    F.col("last_us") >= F.col("m") - F.col("ttl_s") * 1000000, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("live_at_end"),
            F.sum("recreations").cast("bigint").alias("recreations"),
            (F.count(F.lit(1)) + F.sum("recreations"))
            .cast("bigint")
            .alias("total_creations"),
        )
        .orderBy("ttl_s")
    )


# --- round-12 wave: q471 stream-join state peak curve -------------------------

_JSTATE_GRID = (5, 60, 360)  # retention delays in MINUTES

_DUCK_JSTATE = f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in _JSTATE_GRID)}])
                 AS delay_min),
         census AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS m, count(*) AS c
      FROM events GROUP BY 1),
         contrib AS (
      SELECT g.delay_min, u.am, census.c
      FROM census CROSS JOIN g
      CROSS JOIN LATERAL (SELECT unnest(generate_series(
          census.m, census.m + g.delay_min - 1)) AS am) u),
         sums AS (
      SELECT delay_min, am, sum(c) AS live
      FROM contrib GROUP BY delay_min, am),
         state AS (
      SELECT s.delay_min, s.am, s.live
      FROM sums s JOIN census ON s.am = census.m)
    SELECT CAST(delay_min * 60 AS BIGINT) AS delay_s,
           CAST(count(*) AS BIGINT) AS minutes_observed,
           CAST(max(live) AS BIGINT) AS peak_state_rows,
           CAST((1000 * sum(live)) // count(*) AS BIGINT)
             AS mean_state_milli
    FROM state GROUP BY delay_min ORDER BY delay_s
"""


@register("q471_join_state_peak_curve", _DUCK_JSTATE)
def q471_join_state_peak_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join state sizing curve — the memory question
    behind q118's interval join (each side buffers every row until
    the watermark passes its join window; Spark's own
    stateOperators metrics report this AFTER deployment, this
    predicts it BEFORE): for each candidate retention delay, the
    peak and mean number of concurrently-buffered rows, evaluated at
    minute resolution over the event history. State only grows at
    arrivals, so evaluating at observed minutes catches every peak;
    mean is over observed minutes (documented — idle minutes would
    only dilute it).

    Determinism: minute buckets are integer epoch divisions; all
    outputs integer counts / milli-ratios.

    100 TB shape: the corpus reduces to the minute census FIRST (one
    map-side-combinable aggregate, |minutes| rows — bounded by the
    time span, not the event count); each census row then EXPLODES
    into the delay_min anchor minutes it contributes to and the
    sliding sums are ONE keyed hash aggregate — no census self-join
    (the range-join form planned as a BroadcastNestedLoopJoin,
    quadratic in |minutes|: 25s at a month of minutes, unusable at a
    year). Explosion volume = |minutes| x sum(grid) narrow int pairs,
    map-side combined; the final semi-join restricting anchors to
    observed minutes is census-sized."""
    ev = load_table(spark, sf_dir, "events")
    census = (
        ev.select(
            (F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint") / 60)
            .cast("bigint")
            .alias("m")
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = spark.createDataFrame(
        [(x,) for x in _JSTATE_GRID], "delay_min BIGINT"
    )
    sums = (
        census.crossJoin(F.broadcast(grid))
        .select(
            "delay_min",
            "c",
            F.explode(
                F.sequence(F.col("m"), F.col("m") + F.col("delay_min") - 1)
            ).alias("am"),
        )
        .groupBy("delay_min", "am")
        .agg(F.sum("c").alias("live"))
    )
    state = sums.join(
        census.select(F.col("m").alias("am")), "am"
    )
    return (
        state.groupBy("delay_min")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("minutes_observed"),
            F.max("live").cast("bigint").alias("peak_state_rows"),
            F.expr("(1000 * sum(live)) div count(*)")
            .cast("bigint")
            .alias("mean_state_milli"),
        )
        .select(
            (F.col("delay_min") * 60).cast("bigint").alias("delay_s"),
            "minutes_observed", "peak_state_rows", "mean_state_milli",
        )
        .orderBy("delay_s")
    )


# --- round-12 wave 3: q476 watermark-lateness drop curve ----------------------

#: candidate watermark delays (seconds); the synthetic arrival jitter
#: is bounded by _WM_JITTER_S, so the curve spans none-to-all dropping.
_WM_GRID = (60, 300, 900, 1800)
_WM_JITTER_S = 1800

_DUCK_WM = f"""
    WITH e AS (
      SELECT epoch_us(ts) AS us,
             epoch_us(ts) + ((event_id * 7919) % {_WM_JITTER_S}) * 1000000
               AS arrival_us
      FROM events),
         ev AS (
      SELECT us, arrival_us // 60000000 AS arr_min FROM e),
         census AS (
      SELECT arr_min, max(us) AS mx FROM ev GROUP BY arr_min),
         wm AS (
      SELECT arr_min,
             coalesce(max(mx) OVER (ORDER BY arr_min
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -4611686018427387904) AS wm_base
      FROM census),
         g AS (SELECT unnest([{", ".join(str(x) for x in _WM_GRID)}])
                 AS delay_s),
         j AS (
      SELECT g.delay_s, ev.us, wm.wm_base
      FROM ev JOIN wm USING (arr_min) CROSS JOIN g)
    SELECT CAST(delay_s AS BIGINT) AS delay_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN us < wm_base - delay_s * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST((10000 * sum(CASE WHEN us < wm_base - delay_s * 1000000
                                  THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS dropped_bp
    FROM j GROUP BY delay_s ORDER BY delay_s
"""


@register("q476_watermark_lateness_curve", _DUCK_WM)
def q476_watermark_lateness_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing curve — the `withWatermark` question the
    streaming trio (q33/q36/q46) leaves to folklore ('how much
    lateness tolerance before the state store explodes?') answered
    from the event history with the OTHER side of the trade-off
    measured: for each candidate delay, how many events a
    Structured-Streaming watermark would DROP as too-late (Akidau et
    al., VLDB 2015 §2.3 — the watermark/lateness trade is the core of
    the Dataflow model; Spark SS adopts it per SPARK-18124). Arrival
    order is synthesized deterministically (arrival = event time +
    (event_id * 7919) % {_WM_JITTER_S} s jitter — int64-exact to
    ~1e15 ids) and the watermark advances per arrival-minute, the
    micro-batch granularity: wm(minute) = max event time seen in
    EARLIER arrival minutes − delay; an event is dropped when its
    event time is behind the watermark at its own arrival minute.
    Completes the streaming-ops sizing set: q459 trigger interval,
    q467 state TTL, q471 join-state retention, q476 watermark delay.

    Determinism: all arithmetic on exact microsecond epochs and int64
    jitter; outputs are integer counts and truncating-div basis
    points; the first arrival minute coalesces to -2^62 (no prior
    watermark -> nothing drops).

    100 TB shape: ONE pass builds the |arrival minutes|-row census;
    the prefix max runs on that CENSUS (input-bounded window over an
    aggregate — the posture the audit whitelists structurally, not a
    corpus sort); the watermark table then BROADCASTS back onto the
    corpus, so the event stream itself never shuffles — the x|grid|
    expansion feeds one map-side-combinable aggregate keyed by
    delay."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") * 7919) % _WM_JITTER_S * 1000000
        ).alias("arrival_us"),
    )
    evm = ev.select("us", F.expr("arrival_us div 60000000").alias("arr_min"))
    census = evm.groupBy("arr_min").agg(F.max("us").alias("mx"))
    w = (
        Window.orderBy("arr_min")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = census.select(
        "arr_min",
        F.coalesce(
            F.max("mx").over(w), F.lit(-4611686018427387904)
        ).alias("wm_base"),
    )
    grid = spark.createDataFrame([(s,) for s in _WM_GRID], "delay_s BIGINT")
    j = evm.join(F.broadcast(wm), "arr_min").crossJoin(F.broadcast(grid))
    dropped = F.when(
        F.col("us") < F.col("wm_base") - F.col("delay_s") * 1000000, 1
    ).otherwise(0)
    return (
        j.groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.expr(
                "(10000 * sum(CASE WHEN us < wm_base - delay_s * 1000000"
                " THEN 1 ELSE 0 END)) div count(*)"
            )
            .cast("bigint")
            .alias("dropped_bp"),
        )
        .orderBy("delay_s")
    )
