"""Twentieth coverage wave: statistical hypothesis tests as
aggregations — chi-square independence, mutual information, and the
Benford first-digit test (forensic accounting's fraud screen). Each is
a contingency table (integer counts from one aggregate) followed by
per-cell double math on exact integers — engine-identical until the
final basis-point quantization, the same determinism contract as q140's
Wilson interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table


@register(
    "q145_chi_square",
    """
    WITH obs AS (
      SELECT lang, source, count(*) AS o
      FROM documents GROUP BY lang, source),
         margins AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS row_n,
             sum(o) OVER (PARTITION BY source) AS col_n,
             sum(o) OVER () AS n
      FROM obs)
    SELECT count(*) AS n_cells,
           CAST((SELECT count(DISTINCT lang) FROM obs) - 1 AS BIGINT)
             * CAST((SELECT count(DISTINCT source) FROM obs) - 1 AS BIGINT)
             AS dof,
           CAST(round(10000 * sum(
             (o - row_n * col_n * 1.0 / n) * (o - row_n * col_n * 1.0 / n)
             / (row_n * col_n * 1.0 / n))) AS BIGINT) AS chi2_e4
    FROM margins
    """,
)
def q145_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between lang and source:
    one contingency aggregate, margins via windows over the (tiny)
    cell table, then sum((O-E)^2/E). The statistic's inputs are exact
    integer counts, so the per-cell doubles are engine-identical; the
    cross-cell sum runs over ~100 cells in one deterministic
    aggregation. At 100 TB the only full-data pass is the first
    groupBy — the test itself costs nothing."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))

    row_n = F.sum("o").over(Window.partitionBy("lang"))
    col_n = F.sum("o").over(Window.partitionBy("source"))
    n = F.sum("o").over(Window.partitionBy())
    m = obs.select("lang", "source", "o", row_n.alias("row_n"), col_n.alias("col_n"), n.alias("n"))
    e = F.col("row_n") * F.col("col_n") * 1.0 / F.col("n")
    chi2 = F.sum((F.col("o") - e) * (F.col("o") - e) / e)
    dof = (
        obs.select("lang").distinct().count() - 1
    ) * (obs.select("source").distinct().count() - 1)
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.lit(dof).cast("bigint").alias("dof"),
        quantise(chi2, 4).alias("chi2_e4"),
    )


@register(
    "q146_mutual_information",
    """
    WITH obs AS (
      SELECT lang, source, count(*) AS o
      FROM documents GROUP BY lang, source),
         m AS (
      SELECT o,
             sum(o) OVER (PARTITION BY lang) AS row_n,
             sum(o) OVER (PARTITION BY source) AS col_n,
             sum(o) OVER () AS n
      FROM obs)
    SELECT CAST(round(1000000 * sum(
             (o * 1.0 / n) * ln(o * 1.0 * n / (row_n * col_n))))
           AS BIGINT) AS mi_nats_e6
    FROM m
    """,
)
def q146_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats — the feature-
    selection / redundancy measure between two categorical columns
    (zero iff independent; compare q145's significance test). Same
    contingency-table plan as q145: the data pass is one groupBy, the
    information sum is per-cell math on exact integers over ~100
    cells, emitted in 1e-6 nat units."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))

    m = obs.select(
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_n"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    mi = F.sum(
        (F.col("o") * 1.0 / F.col("n"))
        * F.log(F.col("o") * 1.0 * F.col("n") / (F.col("row_n") * F.col("col_n")))
    )
    return m.agg(quantise(mi, 6).alias("mi_nats_e6"))


@register(
    "q147_benford_digits",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
         c AS (
      SELECT digit, count(*) AS o FROM d GROUP BY digit),
         n AS (SELECT sum(o) AS n FROM c)
    SELECT digit, CAST(o AS BIGINT) AS observed,
           CAST(round(o * 10000.0 / n.n) AS BIGINT) AS observed_bp,
           CAST(round(10000 * ln(1.0 + 1.0 / digit) / ln(10.0)) AS BIGINT)
             AS benford_bp
    FROM c CROSS JOIN n
    ORDER BY digit
    """,
)
def q147_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order values (Benford
    1938; the forensic-accounting fraud test — invoices that humans
    invent don't follow log10(1+1/d)): observed first-digit shares
    next to the Benford expectation, both in basis points. The digit
    extraction is integer/string math (no float parsing); one tiny
    aggregate after the scan. Synthetic uniform-ish prices will NOT
    follow Benford — the comparison columns are the point, not
    conformance."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("o")
    )
    n = c.agg(F.sum("o").alias("n"))
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.col("o").cast("bigint").alias("observed"),
            F.round(F.col("o") * 10000.0 / F.col("n")).cast("bigint").alias("observed_bp"),
            F.round(10000 * F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)))
            .cast("bigint")
            .alias("benford_bp"),
        )
        .orderBy("digit")
    )


@register(
    "q148_binary_encoding",
    """
    SELECT doc_id,
           to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS b64,
           hex(CAST(substr(text, 1, 6) AS BLOB)) AS hx,
           md5(text) AS digest,
           octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
)
def q148_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding parity: base64 / hex / md5 over text treated as
    bytes — the encodings every interchange layer (webhooks, Kafka
    payloads, content hashes) round-trips through. Pure per-row codegen
    expressions; byte length equals char length here because the
    synthetic corpus is ASCII (multi-byte text would diverge, which is
    exactly what n_bytes monitors)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("b64"),
        F.upper(F.hex(F.substring("text", 1, 6).cast("binary"))).alias("hx"),
        F.md5(F.col("text")).alias("digest"),
        F.length(F.col("text").cast("binary")).alias("n_bytes"),
    ).orderBy("doc_id")


@register(
    "q149_id_gap_detection",
    """
    WITH c AS (
      SELECT event_id,
             event_id - row_number() OVER (ORDER BY event_id) AS grp
      FROM events WHERE event_type = 'click'),
         islands AS (
      SELECT min(event_id) AS island_start, max(event_id) AS island_end,
             count(*) AS island_len
      FROM c GROUP BY grp)
    SELECT count(*) AS n_islands,
           CAST(sum(island_len) AS BIGINT) AS n_present,
           CAST(max(island_end) - min(island_start) + 1 - sum(island_len)
                AS BIGINT) AS n_missing,
           CAST(max(island_len) AS BIGINT) AS longest_run
    FROM islands
    """,
)
def q149_id_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a sparse ID sequence (the click subset of
    event_ids): the id - row_number() constant-difference trick groups
    consecutive runs without a self-join, then one aggregate summarizes
    presence/missing counts — the CDC completeness check ('did we
    ingest every offset?'). The global-ordered window runs over the
    FILTERED sequence; at extreme scale the same check runs per
    partition-key range and merges, since islands compose across
    range boundaries."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")

    c = ev.select(
        "event_id",
        (F.col("event_id") - F.row_number().over(Window.orderBy("event_id"))).alias(
            "grp"
        ),
    )
    islands = c.groupBy("grp").agg(
        F.min("event_id").alias("island_start"),
        F.max("event_id").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    )
    return islands.agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("island_len").cast("bigint").alias("n_present"),
        (
            F.max("island_end") - F.min("island_start") + 1 - F.sum("island_len")
        )
        .cast("bigint")
        .alias("n_missing"),
        F.max("island_len").cast("bigint").alias("longest_run"),
    )


@register(
    "q150_pythagorean_means",
    """
    WITH t AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0)
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(round(avg(cents)) AS BIGINT) AS arith_c,
           CAST(round(exp(avg(ln(cents)))) AS BIGINT) AS geom_c,
           CAST(round(count(*) / sum(1.0 / cents)) AS BIGINT) AS harm_c
    FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q150_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three Pythagorean means per order status — arithmetic,
    geometric (exp of mean log — the right average for ratios/growth),
    harmonic (the right average for rates) — each from one aggregate
    over integer cents. The ln/reciprocal transforms are per-row doubles
    on exact integers; their cross-row sums are the one place engines
    could drift, bounded here by rounding to whole cents (a 1e-12
    relative ulp cannot move a value whose spacing is 1 cent unless it
    sits exactly on .5 — the same tolerance every money aggregate in
    this repo carries)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = quantise("o_totalprice", 2)
    t = orders.select("o_orderstatus", cents.alias("cents"))
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("cents")).cast("bigint").alias("arith_c"),
            F.round(F.exp(F.avg(F.log("cents")))).cast("bigint").alias("geom_c"),
            F.round(F.count(F.lit(1)) / F.sum(1.0 / F.col("cents")))
            .cast("bigint")
            .alias("harm_c"),
        )
        .orderBy("o_orderstatus")
    )


# --- q161: two-sample Kolmogorov–Smirnov (round-4 wave) -------------------
_KS_A = "1-URGENT"
_KS_B = "5-LOW"

_DUCK_KS = f"""
    WITH pool AS (
      SELECT o_totalprice AS v,
             count(CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 END) AS a,
             count(CASE WHEN o_orderpriority = '{_KS_B}' THEN 1 END) AS b
      FROM orders
      WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
      GROUP BY o_totalprice),
         n AS (SELECT sum(a) AS na, sum(b) AS nb FROM pool),
         cdf AS (
      SELECT sum(a) OVER (ORDER BY v) AS ca,
             sum(b) OVER (ORDER BY v) AS cb
      FROM pool)
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           CAST(round(max(abs(ca * 1.0 / n.na - cb * 1.0 / n.nb)) * 1000000)
                AS BIGINT) AS ks_ppm
    FROM cdf CROSS JOIN n
    GROUP BY n.na, n.nb
"""


@register("q161_ks_test", _DUCK_KS)
def q161_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic comparing the
    o_totalprice distributions of urgent vs low-priority orders:
    D = max over the pooled support of |F_a(x) - F_b(x)| — the
    standard nonparametric drift test a data pipeline runs between
    corpus snapshots (same family as q113's snapshot diff, but over a
    continuous distribution).

    Exactness: both empirical CDFs are running sums of integer counts
    over the DISTINCT-value grid divided by integer totals — identical
    doubles; D is quantized to ppm.

    Scale note: the running sum is a global-ordered window, but it
    runs over the distinct-VALUE aggregate, not raw rows — cardinality
    is bounded by the price grid (cents granularity), not the corpus,
    the same reduction that keeps q149's gap scan safe. For truly
    unbounded supports, swap the exact CDF for q139b's equi-depth
    sketch and compare quantiles (docstring contract)."""
    orders = load_table(spark, sf_dir, "orders")
    pool = (
        orders.filter(F.col("o_orderpriority").isin(_KS_A, _KS_B))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.count(F.when(F.col("o_orderpriority") == _KS_A, 1)).alias("a"),
            F.count(F.when(F.col("o_orderpriority") == _KS_B, 1)).alias("b"),
        )
    )

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = pool.select(
        F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    n = pool.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    return (
        cdf.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            quantise(
                F.max(
                    F.abs(
                        F.col("ca") * 1.0 / F.col("na")
                        - F.col("cb") * 1.0 / F.col("nb")
                    )
                ),
                6,
            )
            .alias("ks_ppm")
        )
        .select(
            F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_ppm"
        )
    )


@register(
    "q210_cohens_kappa",
    """
    WITH rated AS (
      SELECT lang,
             CASE WHEN n_chars > 310 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(text) - len(replace(text, 'e', '')) > 28
                  THEN 1 ELSE 0 END AS rb
      FROM documents),
         cells AS (
      SELECT lang,
             count(*) AS n,
             sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
             sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS n10,
             sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS n01,
             sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00
      FROM rated GROUP BY lang)
    SELECT lang,
           CAST(n AS BIGINT) AS n,
           CAST(n11 + n00 AS BIGINT) AS n_agree,
           CAST(CASE
             WHEN n * n = ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) THEN NULL
             ELSE FLOOR(
               10000.0 * (n * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)))
               / (n * n - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)))
             )
           END AS BIGINT) AS kappa_bp
    FROM cells
    ORDER BY lang
    """,
)
def q210_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) inter-rater agreement between two
    deterministic document raters — rater A flags long documents
    (n_chars > median ~310), rater B flags documents rich in the
    letter 'e' (> 28 occurrences, a noisy length proxy that genuinely
    disagrees with A on short-but-dense texts); kappa corrects their raw agreement for the agreement
    expected by chance from the marginals. The production use is
    annotation-pipeline QA: two labeling heuristics (or two human
    cohorts) rated the same corpus and the curator needs
    chance-corrected agreement per language before trusting labels.

    One narrow pass computes both ratings per row, ONE groupBy(lang)
    reduces the full 2×2 contingency table with map-side partials, and
    kappa is pure per-group arithmetic on exact integer cell counts:
    kappa = (N·po_num − pe_num) / (N² − pe_num) with po_num = n11+n00
    and pe_num = Σ row·col marginal products — quantized to basis
    points with all intermediates exact in double (≤1e15 « 2^53), so
    both engines floor the same value. Zero extra shuffles at any
    scale; the contingency table is the aggregate state.
    """
    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        "lang",
        F.when(F.col("n_chars") > 310, 1).otherwise(0).alias("ra"),
        F.when(
            F.length("text") - F.length(F.regexp_replace("text", "e", "")) > 28,
            1,
        )
        .otherwise(0)
        .alias("rb"),
    )
    cells = rated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 1)).cast("int")).alias("n11"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 0)).cast("int")).alias("n10"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 1)).cast("int")).alias("n01"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 0)).cast("int")).alias("n00"),
    )
    # Marginal products in decimal(38,0): exact like the oracle's
    # HUGEINT sums, and immune to the BIGINT overflow the q384 5x
    # rerun exposed for products of large per-group counts.
    _dec = "decimal(38,0)"
    pe_num = (F.col("n11") + F.col("n10")).cast(_dec) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")).cast(_dec) * (F.col("n10") + F.col("n00"))
    po_num = F.col("n11") + F.col("n00")
    n_sq = F.col("n").cast(_dec) * F.col("n")
    return cells.select(
        "lang",
        F.col("n").cast("bigint").alias("n"),
        po_num.cast("bigint").alias("n_agree"),
        F.when(
            n_sq != pe_num,
            F.floor(
                10000.0
                * (F.col("n").cast(_dec) * po_num - pe_num)
                / (n_sq - pe_num)
            ),
        )
        .cast("bigint")
        .alias("kappa_bp"),
    ).orderBy("lang")


_DP_EPS = 0.5  # per-release epsilon; b = 1/eps = 2.0
_DP_SCALE = 1048576  # 2^20 uniform grid from the md5 nibbles


@register(
    "q225_dp_noisy_counts",
    f"""
    WITH c AS (
      SELECT lang, source, count(*) AS n
      FROM documents GROUP BY lang, source),
         u AS (
      SELECT lang, source, n,
             (CASE WHEN substr(md5('dp-v1:' || lang || '|' || source), 1, 1)
                        <= '9'
                   THEN ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                     1, 1)) - 48
                   ELSE ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                     1, 1)) - 87 END) * 65536
             + (CASE WHEN substr(md5('dp-v1:' || lang || '|' || source), 2, 1)
                          <= '9'
                     THEN ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       2, 1)) - 48
                     ELSE ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       2, 1)) - 87 END) * 4096
             + (CASE WHEN substr(md5('dp-v1:' || lang || '|' || source), 3, 1)
                          <= '9'
                     THEN ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       3, 1)) - 48
                     ELSE ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       3, 1)) - 87 END) * 256
             + (CASE WHEN substr(md5('dp-v1:' || lang || '|' || source), 4, 1)
                          <= '9'
                     THEN ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       4, 1)) - 48
                     ELSE ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       4, 1)) - 87 END) * 16
             + (CASE WHEN substr(md5('dp-v1:' || lang || '|' || source), 5, 1)
                          <= '9'
                     THEN ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       5, 1)) - 48
                     ELSE ascii(substr(md5('dp-v1:' || lang || '|' || source),
                                       5, 1)) - 87 END) AS ug
      FROM c),
         noise AS (
      SELECT lang, source, n,
             CAST(round(
               CASE WHEN ug * 2 + 1 >= {_DP_SCALE}
                    THEN -(1.0 / {_DP_EPS!r})
                         * ln(1.0 - (2.0 * ug + 1 - {_DP_SCALE})
                              / {_DP_SCALE})
                    ELSE (1.0 / {_DP_EPS!r})
                         * ln((2.0 * ug + 1.0) / {_DP_SCALE})
               END) AS BIGINT) AS lap
      FROM u)
    SELECT lang, source,
           CAST(greatest(n + lap, 0) AS BIGINT) AS noisy_n,
           CAST(lap AS BIGINT) AS noise
    FROM noise
    ORDER BY lang, source
    """,
)
def q225_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006, the
    Laplace mechanism): each (lang, source) cell count — sensitivity 1
    — gets Laplace(1/ε) noise via inverse-CDF transform of a uniform
    draw, then post-processing clamps to >= 0 (post-processing never
    spends privacy budget). TESTABILITY CAVEAT, stated loudly: the
    uniform draw here is SEEDED from md5 of the cell key so the oracle
    can verify the mechanism's arithmetic end-to-end; seeded noise is
    NOT differentially private — production swaps the md5 draw for a
    real RNG and everything else (sensitivity analysis, scale b = 1/ε,
    clamping, the release shape) is exactly this query. This is the
    engine's privacy-mechanism plumbing under test, not a privacy
    proof. TRUE counts never appear in the released columns (noise is
    shown here only because the fixture gate hashes it; a release
    would project it away).

    Shape: one contingency aggregate (map-side partials), then pure
    per-cell expressions: 5 md5 nibbles -> a 2^20 uniform grid point,
    the two-sided inverse CDF ±(1/ε)·ln(·) evaluates on exact integer
    ratios (the q187 ln contract), rounds to integer noise, and clamps.
    Zero shuffles beyond the aggregate at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    h = F.md5(F.concat(F.lit("dp-v1:"), F.col("lang"), F.lit("|"), F.col("source")))

    def nib(i: int) -> F.Column:
        ch = F.substring(h, i, 1)
        return F.when(ch <= "9", F.ascii(ch) - 48).otherwise(F.ascii(ch) - 87)

    ug = (
        nib(1) * 65536 + nib(2) * 4096 + nib(3) * 256 + nib(4) * 16 + nib(5)
    )
    b = 1.0 / _DP_EPS
    lap = F.round(
        F.when(
            ug * 2 + 1 >= _DP_SCALE,
            -b * F.log(1.0 - (2.0 * ug + 1 - _DP_SCALE) / F.lit(float(_DP_SCALE))),
        ).otherwise(b * F.log((2.0 * ug + 1.0) / F.lit(float(_DP_SCALE)))),
    ).cast("bigint")
    return (
        c.select(
            "lang",
            "source",
            F.greatest(F.col("n") + lap, F.lit(0)).cast("bigint").alias("noisy_n"),
            lap.alias("noise"),
        )
        .orderBy("lang", "source")
    )


_PSI_BINS = 10


@register(
    "q258_psi_drift",
    f"""
    WITH bounds AS (
      SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi
      FROM events),
         cut AS (
      SELECT CAST((lo + hi) // 2 AS BIGINT) AS t0 FROM bounds),
         v AS (
      SELECT e.event_type,
             CASE WHEN epoch_ms(e.ts) < c.t0 THEN 0 ELSE 1 END AS half,
             CAST(round(e.value * 100) AS BIGINT) AS v_c
      FROM events e CROSS JOIN cut c),
         edges AS (
      SELECT event_type,
             CAST(min(v_c) AS BIGINT) AS vmin,
             CAST(max(v_c) AS BIGINT) AS vmax
      FROM v GROUP BY event_type),
         binned AS (
      SELECT v.event_type, v.half,
             least(CAST(FLOOR({_PSI_BINS}.0 * (v.v_c - e.vmin)
                              / (e.vmax - e.vmin + 1)) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin
      FROM v JOIN edges e ON e.event_type = v.event_type),
         cnt AS (
      SELECT event_type, bin,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
      FROM binned GROUP BY event_type, bin),
         tot AS (
      SELECT event_type, sum(a) AS ta, sum(b) AS tb
      FROM cnt GROUP BY event_type),
         terms AS (
      SELECT c.event_type,
             CAST(round(1000000.0
               * ((c.a + 1.0) / (t.ta + {_PSI_BINS})
                  - (c.b + 1.0) / (t.tb + {_PSI_BINS}))
               * ln(((c.a + 1.0) / (t.ta + {_PSI_BINS}))
                    / ((c.b + 1.0) / (t.tb + {_PSI_BINS}))))
               AS BIGINT) AS term_u
      FROM cnt c JOIN tot t ON t.event_type = c.event_type)
    SELECT event_type,
           CAST(sum(term_u) AS BIGINT) AS psi_e6,
           CAST(CASE WHEN sum(term_u) >= 250000 THEN 2
                     WHEN sum(term_u) >= 100000 THEN 1
                     ELSE 0 END AS BIGINT) AS drift_level
    FROM terms
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q258_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (the credit-risk/model-monitoring
    drift standard): the value distribution of each event type in the
    FIRST half of the time range vs the SECOND, over 10 equal-width
    bins, PSI = Σ(p_a − p_b)·ln(p_a/p_b) with the industry alert
    levels (≥0.1 watch, ≥0.25 act). Complements q161's KS (exact
    sup-distance, no binning) with the binned statistic every risk
    team actually tracks; add-one smoothing on bin counts keeps ln
    finite when a bin empties in one half.

    Engine-exactness: the split point is exact integer epoch-millisecond
    arithmetic and the bin edges exact integers, both off 1-row
    broadcasts; per-bin PSI terms evaluate on
    exact integer ratios and quantize to 1e-6 BEFORE the sum (q187 ln
    contract). Shape: two tiny broadcasts + ONE (type, half, bin)
    aggregate over the scan; the statistic assembles on the 2x10-cell
    table per type.
    """
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    bounds = ev.agg(F.min(ms).alias("lo"), F.max(ms).alias("hi"))
    # checkpoint the 1-row split point and the (types x bins) count
    # table: without them every downstream consumer re-ran the corpus
    # scan (audited: 8 parquet scans of events in one plan; now 3 —
    # bounds, edges, binning).
    cut = materialize(bounds.select(
        F.floor((F.col("lo") + F.col("hi")) / 2).cast("bigint").alias("t0")
    ))
    v = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        (ms >= F.col("t0")).cast("int").alias("half"),
        quantise("value", 2).alias("v_c"),
    )
    edges = v.groupBy("event_type").agg(
        F.min("v_c").alias("vmin"), F.max("v_c").alias("vmax")
    )
    binned = v.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "half",
        F.least(
            F.floor(
                _PSI_BINS
                * (F.col("v_c") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin") + 1)
            ).cast("bigint"),
            F.lit(_PSI_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    cnt = materialize(binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b"),
    ))
    tot = cnt.groupBy("event_type").agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    pa = (F.col("a") + 1.0) / (F.col("ta") + _PSI_BINS)
    pb = (F.col("b") + 1.0) / (F.col("tb") + _PSI_BINS)
    terms = cnt.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.round(1000000.0 * (pa - pb) * F.log(pa / pb))
        .cast("bigint")
        .alias("term_u"),
    )
    psi = F.sum("term_u")
    return (
        terms.groupBy("event_type")
        .agg(
            psi.cast("bigint").alias("psi_e6"),
            F.when(psi >= 250000, 2)
            .when(psi >= 100000, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("drift_level"),
        )
        .orderBy("event_type")
    )


@register(
    "q263_value_mode",
    """
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c,
             count(*) AS n
      FROM events GROUP BY 1, 2),
         m AS (
      SELECT event_type, v_c, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, v_c) AS rk
      FROM c)
    SELECT event_type,
           CAST(v_c AS BIGINT) AS mode_c,
           CAST(n AS BIGINT) AS n_occurrences
    FROM m WHERE rk = 1
    ORDER BY event_type
    """,
)
def q263_value_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per event type with a DETERMINISTIC tie-break
    (highest count, then smallest value) — the default-value /
    imputation statistic. Spark's builtin ``mode()`` is documented
    non-deterministic on ties, so this query takes the
    count-then-rank form both engines agree on exactly: one
    (type, value) aggregate — cardinality bounded by the cents
    quantization — then a per-type top-1 over the bounded count table.
    """
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            quantise("value", 2).alias("v_c"),
        )
        .groupBy("event_type", "v_c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.desc("n"), "v_c")
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("v_c").cast("bigint").alias("mode_c"),
            F.col("n").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("event_type")
    )


@register(
    "q279_median_ci",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events),
         n AS (
      SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
         ranks AS (
      SELECT event_type, n,
             CAST(FLOOR(n / 2.0 - 0.98 * sqrt(n)) AS BIGINT) AS r_lo,
             CAST(CEIL(n / 2.0 + 1.0 + 0.98 * sqrt(n)) AS BIGINT) AS r_hi
      FROM n),
         hist AS (
      SELECT event_type, v_u, count(*) AS c FROM v
      GROUP BY event_type, v_u),
         cum AS (
      SELECT event_type, v_u,
             sum(c) OVER (PARTITION BY event_type ORDER BY v_u
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM hist)
    SELECT r.event_type,
           CAST(r.n AS BIGINT) AS n,
           CAST((SELECT min(v_u) FROM cum c
                 WHERE c.event_type = r.event_type AND c.cc >= r.r_lo)
                AS BIGINT) AS ci_lo_u,
           CAST((SELECT min(v_u) FROM cum c
                 WHERE c.event_type = r.event_type
                   AND c.cc >= CAST(CEIL(r.n / 2.0) AS BIGINT))
                AS BIGINT) AS median_u,
           CAST((SELECT min(v_u) FROM cum c
                 WHERE c.event_type = r.event_type AND c.cc >= r.r_hi)
                AS BIGINT) AS ci_hi_u
    FROM ranks r
    ORDER BY r.event_type
    """,
)
def q279_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN by
    binomial order statistics (the textbook nonparametric CI — no
    bootstrap resampling, no normality assumption): the interval
    endpoints are the order statistics at ranks n/2 ∓ 0.98√n (0.98 =
    z_{.975}/2 as an exact literal, the no-CDF contract), which cover
    the true median with ≥95% probability for any continuous
    distribution. Complements q193's bootstrap (general-statistic,
    resampling-priced) with the closed-form answer for quantiles.

    Shape: order-statistic lookup runs on the per-type VALUE
    HISTOGRAM (quantization-bounded, q196's contract) via cumulative
    counts — 'value at rank r' = min value whose cumcount ≥ r — so no
    corpus-scale sort exists; ranks are exact integer arithmetic off
    per-type counts.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        quantise("value", 6).alias("v_u"),
    )
    n = v.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # checkpoint the bounded rank table (|types| rows) and cumulative
    # histogram (histogram-sized): three at_rank() consumers each
    # re-ran the corpus passes otherwise (audited: 7 parquet scans of
    # events in one plan; now 2).
    ranks = materialize(n.select(
        "event_type",
        "n",
        F.floor(F.col("n") / 2.0 - 0.98 * F.sqrt(F.col("n")))
        .cast("bigint")
        .alias("r_lo"),
        F.ceil(F.col("n") / 2.0 + 1.0 + 0.98 * F.sqrt(F.col("n")))
        .cast("bigint")
        .alias("r_hi"),
        F.ceil(F.col("n") / 2.0).cast("bigint").alias("r_med"),
    ))
    hist = v.groupBy("event_type", "v_u").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("v_u")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = materialize(hist.select(
        "event_type", "v_u", F.sum("c").over(w).alias("cc")
    ))

    def at_rank(rank_col: str, alias: str):
        return (
            cum.join(
                F.broadcast(ranks.select("event_type", rank_col)), "event_type"
            )
            .filter(F.col("cc") >= F.col(rank_col))
            .groupBy("event_type")
            .agg(F.min("v_u").cast("bigint").alias(alias))
        )

    lo = at_rank("r_lo", "ci_lo_u")
    med = at_rank("r_med", "median_u")
    hi = at_rank("r_hi", "ci_hi_u")
    return (
        ranks.select("event_type", F.col("n").cast("bigint").alias("n"))
        .join(lo, "event_type")
        .join(med, "event_type")
        .join(hi, "event_type")
        .select("event_type", "n", "ci_lo_u", "median_u", "ci_hi_u")
        .orderBy("event_type")
    )


@register(
    "q281_spearman",
    """
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(text) - len(replace(text, 'e', '')) AS BIGINT) AS y
      FROM documents),
         rx AS (
      SELECT x, count(*) AS c FROM d GROUP BY x),
         rxm AS (
      SELECT x,
             coalesce(sum(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
             + c + 1 AS r2x
      FROM rx),
         ry AS (
      SELECT y, count(*) AS c FROM d GROUP BY y),
         rym AS (
      SELECT y,
             coalesce(sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
             + c + 1 AS r2y
      FROM ry),
         j AS (
      SELECT rxm.r2x, rym.r2y
      FROM d JOIN rxm ON rxm.x = d.x JOIN rym ON rym.y = d.y),
         s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(r2x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(r2x AS DECIMAL(38,0))
                      * CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(r2x AS DECIMAL(38,0))
                      * CAST(r2x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(r2y AS DECIMAL(38,0))
                      * CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                AS BIGINT) AS spearman_e6
    FROM s
    """,
)
def q281_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with exact MIDRANKS for ties) between
    document length and letter-'e' density — the monotone-association
    measure that survives outliers and nonlinearity where Pearson
    (q234's machinery) doesn't. Ranks come from per-distinct-value
    DOUBLED midranks (2r = 2·count_below + count + 1 stays integer —
    no .5s anywhere) computed on the value HISTOGRAMS and joined back
    as broadcast rank maps, so no corpus-scale sort or row_number
    window exists; the final ρ is Pearson on doubled ranks (scale
    cancels), with moment sums in DECIMAL(38,0) (rank products are
    O(n²) per row — int64 dies at ~10^6 rows, the q252 lesson).

    Shape: two histogram aggregates + two broadcast joins + one
    moment reduce. The only corpus passes are the histograms and the
    rank-attach scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.col("n_chars").cast("bigint").alias("x"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "e", ""))
        )
        .cast("bigint")
        .alias("y"),
    )

    def midranks(col: str):
        hist = d.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return hist.select(
            col,
            (
                F.coalesce(F.sum("c").over(w), F.lit(0)) * 2
                + F.col("c")
                + 1
            ).alias(f"r2{col}"),
        )

    j = d.join(F.broadcast(midranks("x")), "x").join(
        F.broadcast(midranks("y")), "y"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("r2x")).cast("double").alias("sx"),
        F.sum(dec("r2y")).cast("double").alias("sy"),
        F.sum(dec("r2x") * dec("r2y")).cast("double").alias("sxy"),
        F.sum(dec("r2x") * dec("r2x")).cast("double").alias("sxx"),
        F.sum(dec("r2y") * dec("r2y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        n.cast("bigint").alias("n"),
        quantise(rho, 6).alias("spearman_e6"),
    )


@register(
    "q282_cramers_v",
    """
    WITH obs AS (
      SELECT lang, source, count(*) AS o
      FROM documents GROUP BY lang, source),
         grid AS (
      SELECT l.lang, s.source
      FROM (SELECT DISTINCT lang FROM documents) l
      CROSS JOIN (SELECT DISTINCT source FROM documents) s),
         cells AS (
      SELECT g.lang, g.source, CAST(coalesce(obs.o, 0) AS BIGINT) AS o
      FROM grid g LEFT JOIN obs USING (lang, source)),
         margins AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS row_n,
             sum(o) OVER (PARTITION BY source) AS col_n,
             sum(o) OVER () AS n
      FROM cells),
         chi AS (
      SELECT max(n) AS n,
             sum((o - row_n * col_n * 1.0 / n)
                 * (o - row_n * col_n * 1.0 / n)
                 / (row_n * col_n * 1.0 / n)) AS chi2,
             count(DISTINCT lang) AS r, count(DISTINCT source) AS c
      FROM margins)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(1000000.0 * sqrt(chi2 / (n * least(r - 1, c - 1))))
                AS BIGINT) AS cramers_v_e6
    FROM chi
    """,
)
def q282_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the EFFECT SIZE q145's chi-square significance
    test needs as a companion (at 10^9 rows everything is
    'significant'; V = sqrt(χ²/(N·min(r−1,c−1))) ∈ [0,1] says whether
    the lang↔source association is large enough to matter). Same
    contingency plan as q145; one extra closed form on the cell table.

    The chi-square runs over the FULL r x c grid (distinct langs x
    distinct sources, absent combinations filled with o=0): a zero
    cell still contributes (0-E)^2/E = E, and dropping it understates
    chi2 and V whenever a combination never occurs (ADVICE r4). The
    grid is a cross join of two category-cardinality frames — tiny at
    any data scale — broadcast back onto the observed cell counts, so
    the plan still costs exactly one shuffle (the cell groupBy).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    grid = docs.select("lang").distinct().crossJoin(
        docs.select("source").distinct()
    )
    cells = grid.join(obs, ["lang", "source"], "left").select(
        "lang", "source", F.coalesce("o", F.lit(0)).cast("bigint").alias("o")
    )
    m = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(W.partitionBy("lang")).alias("row_n"),
        F.sum("o").over(W.partitionBy("source")).alias("col_n"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    e = F.col("row_n") * F.col("col_n") * 1.0 / F.col("n")
    chi = m.agg(
        F.max("n").alias("n"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n"),
        quantise(F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))), 6)
        .alias("cramers_v_e6"),
    )


# --- q295: Benjamini-Hochberg FDR over a family of tests -----------------
_BH_ALPHA = 0.05

# Shared one-sided normal tail approximation (Lin, The American
# Statistician 1989): Q(z) ~= exp(-0.717 z - 0.416 z^2). Both engines
# evaluate the IDENTICAL closed form, so p-values are bit-equal and
# the BH threshold comparison cannot diverge.
_DUCK_BH = f"""
    WITH rows_c AS (
      SELECT event_type,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
         g AS (
      SELECT event_type,
             CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd,
             CAST(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
             CAST(sum(CASE WHEN we = 0 THEN vc ELSE 0 END) AS BIGINT) AS s_wd,
             CAST(sum(CASE WHEN we = 1 THEN vc ELSE 0 END) AS BIGINT) AS s_we,
             CAST(sum(CASE WHEN we = 0 THEN vc * vc ELSE 0 END) AS BIGINT)
               AS q_wd,
             CAST(sum(CASE WHEN we = 1 THEN vc * vc ELSE 0 END) AS BIGINT)
               AS q_we
      FROM rows_c GROUP BY 1),
         z AS (
      SELECT event_type, n_wd, n_we,
             (s_we * 1.0 / n_we - s_wd * 1.0 / n_wd)
             / sqrt((q_we * 1.0 / n_we - (s_we * 1.0 / n_we) * (s_we * 1.0 / n_we)) / n_we
                  + (q_wd * 1.0 / n_wd - (s_wd * 1.0 / n_wd) * (s_wd * 1.0 / n_wd)) / n_wd)
               AS zv
      FROM g),
         p AS (
      SELECT event_type, n_wd, n_we, zv,
             least(1.0, 2.0 * exp(-0.717 * abs(zv) - 0.416 * zv * zv)) AS pv
      FROM z),
         ranked AS (
      SELECT event_type, n_wd, n_we, zv, pv,
             CAST(row_number() OVER (ORDER BY pv, event_type) AS BIGINT) AS rk,
             count(*) OVER () AS m
      FROM p),
         cut AS (
      SELECT coalesce(max(CASE WHEN pv <= {_BH_ALPHA} * rk / m
                               THEN rk END), 0) AS rmax
      FROM ranked)
    SELECT event_type, n_wd, n_we,
           CAST(round(1000 * zv) AS BIGINT) AS z_milli,
           CAST(round(1000000000 * pv) AS BIGINT) AS p_e9,
           rk,
           CAST(CASE WHEN rk <= cut.rmax THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM ranked CROSS JOIN cut
    ORDER BY rk
"""


@register("q295_bh_fdr", _DUCK_BH)
def q295_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (JRSS-B 1995) over a FAMILY of
    hypothesis tests — the piece a metrics platform needs the moment
    it runs q192-style tests on many metrics at once: per event type,
    a two-sample z-test of weekend-vs-weekday mean value, then the BH
    step-up rule (reject the r smallest p-values where p_(r) <=
    alpha*r/m). The step-up cutoff is max-rank-satisfying — a single
    scalar aggregate joined back, NOT an iterative scan.

    Exactness: per-row values quantize to integer cents, so all
    moments are integer sums; z and the shared Lin-1989 normal-tail
    approximation are identical closed forms in both engines; ranks
    are integers with name tiebreaks.

    100 TB shape: one map-side-combinable aggregate over events to
    |event_types| rows; the BH machinery (rank window, scalar cutoff,
    1-row cross join) is constant-size. The family can grow to
    millions of metrics before the rank window needs a partitioned
    two-pass top-k."""
    ev = load_table(spark, sf_dir, "events")
    rows_c = ev.select(
        "event_type",
        F.when(F.weekday("ts") >= 5, 1).otherwise(0).alias("we"),
        quantise("value", 2).alias("vc"),
    )
    g = rows_c.groupBy("event_type").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0)).cast("bigint").alias("n_wd"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0)).cast("bigint").alias("n_we"),
        F.sum(F.when(F.col("we") == 0, F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("s_wd"),
        F.sum(F.when(F.col("we") == 1, F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("s_we"),
        F.sum(F.when(F.col("we") == 0, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("q_wd"),
        F.sum(F.when(F.col("we") == 1, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("q_we"),
    )
    m_we = F.col("s_we") * 1.0 / F.col("n_we")
    m_wd = F.col("s_wd") * 1.0 / F.col("n_wd")
    v_we = (F.col("q_we") * 1.0 / F.col("n_we") - m_we * m_we) / F.col("n_we")
    v_wd = (F.col("q_wd") * 1.0 / F.col("n_wd") - m_wd * m_wd) / F.col("n_wd")
    z = g.select(
        "event_type",
        "n_wd",
        "n_we",
        ((m_we - m_wd) / F.sqrt(v_we + v_wd)).alias("zv"),
    )
    p = z.withColumn(
        "pv",
        F.least(
            F.lit(1.0),
            2.0 * F.exp(-0.717 * F.abs(F.col("zv")) - 0.416 * F.col("zv") * F.col("zv")),
        ),
    )
    ranked = p.select(
        "*",
        F.row_number().over(Window.orderBy("pv", "event_type")).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv") <= _BH_ALPHA * F.col("rk") / F.col("m"), F.col("rk")
                )
            ),
            F.lit(0),
        ).alias("rmax")
    )
    return (
        ranked.crossJoin(cut)
        .select(
            "event_type",
            "n_wd",
            "n_we",
            quantise("zv", 3).alias("z_milli"),
            quantise("pv", 9).alias("p_e9"),
            "rk",
            F.when(F.col("rk") <= F.col("rmax"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rejected"),
        )
        .orderBy("rk")
    )


# --- q299: Hill estimator of the activity tail index ---------------------
_HILL_K = 10  # top-k order statistics; the sf0.001 fixture has 15 users

_DUCK_HILL = f"""
    WITH act AS (
      SELECT user_id, count(*) AS x FROM events GROUP BY 1),
         top AS (
      SELECT x, user_id FROM act
      ORDER BY x DESC, user_id LIMIT {_HILL_K + 1}),
         r AS (
      SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rk
      FROM top),
         thr AS (SELECT x AS xk1 FROM r WHERE rk = {_HILL_K + 1})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           CAST(thr.xk1 AS BIGINT) AS threshold_count,
           CAST(round(1000000.0 * {_HILL_K}
                      / sum(ln(r.x * 1.0 / thr.xk1))) AS BIGINT)
             AS alpha_e6
    FROM r CROSS JOIN thr
    WHERE r.rk <= {_HILL_K}
    GROUP BY thr.xk1
"""


@register("q299_hill_tail_index", _DUCK_HILL)
def q299_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index (Hill, Annals of
    Statistics 1975) over the per-user activity distribution:
    alpha_hat = k / sum_{{i<=k}} ln(x_(i) / x_(k+1)) on the top-k
    order statistics — the standard heavy-tail diagnostic (alpha <= 2
    means infinite variance: expect skew, plan salting) that turns
    'this key distribution looks skewed' into a number the partition
    planner can threshold on.

    Exactness: activity counts are integers; the top-(k+1) set is
    deterministic under the (count desc, user_id) order; the log-sum
    runs over the same {_HILL_K} values in both engines.

    100 TB shape: one combinable count aggregate, then a
    TakeOrderedAndProject for the top-(k+1) rows (``orderBy().limit``
    — Spark plans a bounded priority queue per partition + a
    {_HILL_K + 1}-row merge on the driver, NO global sort of the user
    table); everything after is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    top = act.orderBy(F.desc("x"), "user_id").limit(_HILL_K + 1)
    r = top.select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.desc("x"), "user_id"))
        .alias("rk"),
    )
    thr = r.filter(F.col("rk") == _HILL_K + 1).select(F.col("x").alias("xk1"))
    return (
        r.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(thr))
        .groupBy("xk1")
        .agg(
            F.lit(_HILL_K).cast("bigint").alias("k"),
            F.round(
                1000000.0
                * _HILL_K
                / F.sum(F.log(F.col("x") * 1.0 / F.col("xk1")))
            )
            .cast("bigint")
            .alias("alpha_e6"),
        )
        .select(
            "k",
            F.col("xk1").cast("bigint").alias("threshold_count"),
            "alpha_e6",
        )
    )


# --- q308: Wasserstein-1 (earth mover's) distribution drift --------------
_DUCK_W1 = """
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS vc,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we
      FROM events),
         h AS (
      SELECT vc,
             CAST(sum(1 - we) AS BIGINT) AS c_wd,
             CAST(sum(we) AS BIGINT) AS c_we
      FROM s GROUP BY vc),
         tot AS (
      SELECT sum(c_wd) AS n_wd, sum(c_we) AS n_we FROM h),
         cdf AS (
      SELECT vc,
             sum(c_wd) OVER w * 1.0 / tot.n_wd AS fa,
             sum(c_we) OVER w * 1.0 / tot.n_we AS fb,
             lead(vc) OVER (ORDER BY vc) AS nxt
      FROM h CROSS JOIN tot
      WINDOW w AS (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW))
    SELECT CAST(max(tot.n_wd) AS BIGINT) AS n_wd,
           CAST(max(tot.n_we) AS BIGINT) AS n_we,
           CAST(sum(CAST(round(abs(fa - fb) * (nxt - vc) * 1000000)
                         AS BIGINT)) AS BIGINT) AS w1_microcents,
           CAST(round(1000000 * max(abs(fa - fb))) AS BIGINT) AS ks_e6
    FROM cdf CROSS JOIN tot
    WHERE nxt IS NOT NULL
"""


@register("q308_wasserstein_drift", _DUCK_W1)
def q308_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the weekday and
    weekend value distributions — the drift metric that, unlike KS
    (q161, reported alongside) and PSI (q258), measures HOW FAR mass
    moved in the metric of the variable itself (here: cents), so a
    uniform $1 shift scores 100 no matter the shape. Computed by the
    1-D closed form W1 = integral |F_a - F_b| dv over the value
    histogram's step function.

    Determinism: both CDFs are integer-count ratios over the same
    support; each |dF|*gap term quantizes to integer micro-cents
    BEFORE the cross-support sum (the money policy applied to
    distances), so the reduction is order-free.

    100 TB shape: one (value, segment) histogram aggregate; the CDF
    window runs over the bounded distinct-value table (the q161
    shape) — at a continuous-valued 100 TB column, pre-bucket to
    fixed-width bins first and the same plan holds on the bin table."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        quantise("value", 2).alias("vc"),
        F.when(F.weekday("ts") >= 5, 1).otherwise(0).alias("we"),
    )
    h = s.groupBy("vc").agg(
        F.sum(1 - F.col("we")).cast("bigint").alias("c_wd"),
        F.sum("we").cast("bigint").alias("c_we"),
    )
    tot = h.agg(
        F.sum("c_wd").alias("n_wd"), F.sum("c_we").alias("n_we")
    )
    wcum = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    cdf = (
        h.crossJoin(F.broadcast(tot))
        .select(
            "vc",
            (F.sum("c_wd").over(wcum) * 1.0 / F.col("n_wd")).alias("fa"),
            (F.sum("c_we").over(wcum) * 1.0 / F.col("n_we")).alias("fb"),
            F.lead("vc").over(Window.orderBy("vc")).alias("nxt"),
            "n_wd",
            "n_we",
        )
        .filter(F.col("nxt").isNotNull())
    )
    return cdf.agg(
        F.max("n_wd").cast("bigint").alias("n_wd"),
        F.max("n_we").cast("bigint").alias("n_we"),
        F.sum(
            quantise(F.abs(F.col("fa") - F.col("fb")) * (F.col("nxt") - F.col("vc")), 6)
        )
        .cast("bigint")
        .alias("w1_microcents"),
        quantise(F.max(F.abs(F.col("fa") - F.col("fb"))), 6)
        .alias("ks_e6"),
    )


# --- q320: Holm-Bonferroni step-down FWER control -------------------------
_DUCK_HOLM = f"""
    WITH rows_c AS (
      SELECT event_type,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
         g AS (
      SELECT event_type,
             CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd,
             CAST(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
             CAST(sum(CASE WHEN we = 0 THEN vc ELSE 0 END) AS BIGINT) AS s_wd,
             CAST(sum(CASE WHEN we = 1 THEN vc ELSE 0 END) AS BIGINT) AS s_we,
             CAST(sum(CASE WHEN we = 0 THEN vc * vc ELSE 0 END) AS BIGINT)
               AS q_wd,
             CAST(sum(CASE WHEN we = 1 THEN vc * vc ELSE 0 END) AS BIGINT)
               AS q_we
      FROM rows_c GROUP BY 1),
         z AS (
      SELECT event_type,
             (s_we * 1.0 / n_we - s_wd * 1.0 / n_wd)
             / sqrt((q_we * 1.0 / n_we - (s_we * 1.0 / n_we) * (s_we * 1.0 / n_we)) / n_we
                  + (q_wd * 1.0 / n_wd - (s_wd * 1.0 / n_wd) * (s_wd * 1.0 / n_wd)) / n_wd)
               AS zv
      FROM g),
         p AS (
      SELECT event_type,
             least(1.0, 2.0 * exp(-0.717 * abs(zv) - 0.416 * zv * zv)) AS pv
      FROM z),
         ranked AS (
      SELECT event_type, pv,
             CAST(row_number() OVER (ORDER BY pv, event_type) AS BIGINT) AS rk,
             count(*) OVER () AS m
      FROM p),
         stepped AS (
      SELECT event_type, pv, rk,
             max(pv * (m - rk + 1)) OVER (
               ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS adj_running
      FROM ranked)
    SELECT event_type, rk,
           CAST(round(1000000000 * pv) AS BIGINT) AS p_e9,
           CAST(round(1000000000 * least(1.0, adj_running)) AS BIGINT)
             AS p_holm_e9,
           CAST(CASE WHEN adj_running <= 0.05 THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM stepped ORDER BY rk
"""


@register("q320_holm_bonferroni", _DUCK_HOLM)
def q320_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-DOWN familywise-error control (Holm 1979)
    over the same per-arm z-test family as q295's BH step-up — the
    conservative counterpart for when ANY false rejection is costly
    (ship/no-ship gates) rather than a tolerable rate: adjusted
    p_(i) = running max of p_(j)*(m-j+1), reject while the running
    max stays <= alpha. The running max IS the prefix-AND of Holm's
    sequential rule, so the step-down scan becomes one cumulative
    window — no iteration.

    Determinism: identical z/p closed forms as q295 (shared Lin-1989
    tail); ranks integer; adjusted p quantizes to e9.

    100 TB shape: the corpus pass is q295's one combinable moment
    aggregate; everything after runs on |arms| rows."""
    ev = load_table(spark, sf_dir, "events")
    rows_c = ev.select(
        "event_type",
        F.when(F.weekday("ts") >= 5, 1).otherwise(0).alias("we"),
        quantise("value", 2).alias("vc"),
    )
    g = rows_c.groupBy("event_type").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0)).cast("bigint").alias("n_wd"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0)).cast("bigint").alias("n_we"),
        F.sum(F.when(F.col("we") == 0, F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("s_wd"),
        F.sum(F.when(F.col("we") == 1, F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("s_we"),
        F.sum(F.when(F.col("we") == 0, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("q_wd"),
        F.sum(F.when(F.col("we") == 1, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("bigint")
        .alias("q_we"),
    )
    m_we = F.col("s_we") * 1.0 / F.col("n_we")
    m_wd = F.col("s_wd") * 1.0 / F.col("n_wd")
    v_we = (F.col("q_we") * 1.0 / F.col("n_we") - m_we * m_we) / F.col("n_we")
    v_wd = (F.col("q_wd") * 1.0 / F.col("n_wd") - m_wd * m_wd) / F.col("n_wd")
    p = g.select(
        "event_type",
        F.least(
            F.lit(1.0),
            2.0
            * F.exp(
                -0.717 * F.abs((m_we - m_wd) / F.sqrt(v_we + v_wd))
                - 0.416
                * ((m_we - m_wd) / F.sqrt(v_we + v_wd))
                * ((m_we - m_wd) / F.sqrt(v_we + v_wd))
            ),
        ).alias("pv"),
    )
    ranked = p.select(
        "event_type",
        "pv",
        F.row_number().over(Window.orderBy("pv", "event_type")).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    wrun = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    stepped = ranked.withColumn(
        "adj_running",
        F.max(F.col("pv") * (F.col("m") - F.col("rk") + 1)).over(wrun),
    )
    return stepped.select(
        "event_type",
        "rk",
        quantise("pv", 9).alias("p_e9"),
        quantise(F.least(F.lit(1.0), F.col("adj_running")), 9)
        .alias("p_holm_e9"),
        F.when(F.col("adj_running") <= 0.05, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    ).orderBy("rk")


# --- q323: McNemar paired-classifier test (round 6) -----------------------
_DUCK_MCNEMAR = """
    WITH lab AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS pa,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS pb
      FROM events),
         cells AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM lab)
    SELECT CAST(n AS BIGINT) AS n_pairs, b AS a_only_right,
           c AS b_only_right,
           CAST(CASE WHEN b + c = 0 THEN 0
                ELSE round(1000.0 * (abs(b - c) - 1) * (abs(b - c) - 1)
                           / (b + c)) END AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN b + c > 0
                      AND 1000.0 * (abs(b - c) - 1) * (abs(b - c) - 1)
                          / (b + c) > 3841
                     THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM cells
"""


@register("q323_mcnemar", _DUCK_MCNEMAR)
def q323_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifier comparison (McNemar 1947;
    Dietterich 1998 for ML model comparison — the right test when two
    models score the SAME examples, where a two-proportion z-test
    overstates significance by ignoring the pairing): only the
    discordant cells matter — b = A right & B wrong, c = A wrong & B
    right — and the continuity-corrected statistic (|b-c|-1)^2/(b+c)
    is chi-square(1) under H0: equal error rates. Models here are two
    deterministic rules over events (value threshold vs user parity)
    against the purchase label.

    Determinism: b and c are integer counts from ONE aggregate; the
    statistic is one closed-form expression quantized to milli-units;
    the 0.05 cut compares against 3.841 (chi2_{1,.95}) as an exact
    literal (the no-CDF contract).

    100 TB shape: one map-side-combinable aggregate over the paired
    predictions — the discordant-cell reduction IS the whole test, so
    it runs wherever the scoring job already runs (q311's
    zero-extra-pass pattern applies)."""
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("pa"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("pb"),
    )
    cells = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    d = F.abs(F.col("b") - F.col("c"))
    chi2_milli = F.round(
        1000.0 * (d - 1) * (d - 1) / (F.col("b") + F.col("c"))
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("b").alias("a_only_right"),
        F.col("c").alias("b_only_right"),
        F.when(F.col("b") + F.col("c") == 0, 0)
        .otherwise(chi2_milli)
        .cast("bigint")
        .alias("chi2_milli"),
        F.when(
            (F.col("b") + F.col("c") > 0)
            & (
                1000.0 * (d - 1) * (d - 1) / (F.col("b") + F.col("c"))
                > 3841
            ),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("significant_05"),
    )


# --- q325: one-way ANOVA F (round 6) --------------------------------------
_DUCK_ANOVA = """
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss
      FROM events GROUP BY 1),
         tot AS (
      SELECT count(*) AS k, sum(n) AS nn, sum(s) AS stot,
             sum(s * s * 1.0 / n) AS sb_part, sum(ss) AS sstot
      FROM g)
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
           CAST(round(1000.0
                      * ((sb_part - stot * stot * 1.0 / nn) / (k - 1))
                      / ((sstot - sb_part) / (nn - k))) AS BIGINT)
             AS f_milli
    FROM tot
"""


@register("q325_anova_oneway", _DUCK_ANOVA)
def q325_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic (Fisher 1925) across event-type
    groups — the k-group generalization of q192's Welch t: F =
    (between-group SS / (k-1)) / (within-group SS / (N-k)), computed
    entirely from per-group (n, sum, sum-of-squares) in integer cents,
    so the whole decomposition SS_total = SS_between + SS_within is
    exact until the final quantized ratio. Complements q326's rank
    form (this one assumes equal variances and normal-ish tails; that
    one doesn't).

    100 TB shape: ONE map-side-combinable moment aggregate to |groups|
    rows, then scalar math — the canonical 'heavy aggregate, tiny
    decision' plan. Cent-squared sums fit int64 to ~10^14 rows per
    group at these value scales; the documented escalation is the
    decimal(38,0) accumulator (q255's lesson)."""
    ev = load_table(spark, sf_dir, "events")
    vc = quantise("value", 2)
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).cast("bigint").alias("s"),
        F.sum(vc * vc).cast("bigint").alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("stot"),
        F.sum(F.col("s") * F.col("s") * 1.0 / F.col("n")).alias("sb_part"),
        F.sum("ss").alias("sstot"),
    )
    ssb = F.col("sb_part") - F.col("stot") * F.col("stot") * 1.0 / F.col("nn")
    ssw = F.col("sstot") - F.col("sb_part")
    return tot.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n"),
        F.round(
            1000.0
            * (ssb / (F.col("k") - 1))
            / (ssw / (F.col("nn") - F.col("k")))
        )
        .cast("bigint")
        .alias("f_milli"),
    )


# --- q326: Kruskal-Wallis rank test (round 6) ------------------------------
_DUCK_KRUSKAL = """
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v_u
      FROM events),
         hist AS (
      SELECT v_u, count(*) AS c FROM v GROUP BY v_u),
         mid AS (
      SELECT v_u, c,
             2 * coalesce(sum(c) OVER (ORDER BY v_u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS mr2
      FROM hist),
         gh AS (
      SELECT event_type, v_u, count(*) AS cg FROM v GROUP BY 1, 2),
         rsum AS (
      SELECT gh.event_type,
             CAST(sum(gh.cg) AS BIGINT) AS n_g,
             CAST(sum(gh.cg * mid.mr2) AS BIGINT) AS r2_g
      FROM gh JOIN mid USING (v_u) GROUP BY 1),
         ties AS (
      SELECT sum(c * c * c - c) AS tsum FROM hist),
         tot AS (
      SELECT count(*) AS k, sum(n_g) AS nn,
             sum((r2_g / 2.0) * (r2_g / 2.0) / n_g) AS rterm
      FROM rsum)
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
           CAST(round(1000.0
                  * (12.0 / (nn * (nn + 1)) * rterm - 3.0 * (nn + 1))
                  / (1.0 - ties.tsum * 1.0 / (nn * nn * nn - nn)))
                AS BIGINT) AS h_milli
    FROM tot CROSS JOIN ties
"""


@register("q326_kruskal_wallis", _DUCK_KRUSKAL)
def q326_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test (JASA 1952) — the distribution-free
    k-group location test (rank analogue of q325's ANOVA, k-group
    generalization of q280's Mann-Whitney): H = 12/(N(N+1)) sum
    R_g^2/n_g - 3(N+1), tie-corrected by 1 - sum(t^3-t)/(N^3-N).
    Ranks are MIDRANKS computed from the pooled value HISTOGRAM
    (2*midrank = 2*cum_before + c + 1 keeps everything integer — the
    q196/q281 rank-map contract: no corpus-scale sort, ever); group
    rank sums come from joining the per-group histogram to the pooled
    midrank table on the value key.

    100 TB shape: two histogram aggregates (pooled, per-group) bounded
    by the quantization grid, one co-keyed join, and scalar closed
    forms — the global ordered window runs over the value histogram,
    never over rows."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        quantise("value", 6).alias("v_u"),
    )
    hist = materialize(v.groupBy("v_u").agg(F.count(F.lit(1)).alias("c")))
    wcum = Window.orderBy("v_u").rowsBetween(Window.unboundedPreceding, -1)
    mid = hist.select(
        "v_u",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(wcum), F.lit(0)) + F.col("c") + 1
        ).alias("mr2"),
    )
    gh = v.groupBy("event_type", "v_u").agg(F.count(F.lit(1)).alias("cg"))
    rsum = (
        gh.join(mid.select("v_u", "mr2"), "v_u")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("bigint").alias("n_g"),
            F.sum(F.col("cg") * F.col("mr2")).cast("bigint").alias("r2_g"),
        )
    )
    ties = hist.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tsum")
    )
    tot = rsum.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("nn"),
        F.sum(
            (F.col("r2_g") / 2.0) * (F.col("r2_g") / 2.0) / F.col("n_g")
        ).alias("rterm"),
    )
    h = (
        12.0 / (F.col("nn") * (F.col("nn") + 1)) * F.col("rterm")
        - 3.0 * (F.col("nn") + 1)
    )
    corr = 1.0 - F.col("tsum") * 1.0 / (
        F.col("nn") * F.col("nn") * F.col("nn") - F.col("nn")
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n"),
        F.round(1000.0 * h / corr).cast("bigint").alias("h_milli"),
    )


# --- q331: Cramer-von Mises two-sample (round 6) ---------------------------
_DUCK_CVM = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS grp,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events WHERE event_type IN ('click', 'view')),
         hist AS (
      SELECT v_c,
             CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM s GROUP BY v_c),
         tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n, CAST(sum(cb) AS BIGINT) AS m
      FROM hist),
         cum AS (
      SELECT v_c, ca, cb,
             sum(ca) OVER (ORDER BY v_c) AS cum_a,
             sum(cb) OVER (ORDER BY v_c) AS cum_b
      FROM hist),
         terms AS (
      SELECT CAST(sum(
               CAST(round(1000000000.0
                 * (cum_a * 1.0 / tot.n - cum_b * 1.0 / tot.m)
                 * (cum_a * 1.0 / tot.n - cum_b * 1.0 / tot.m)) AS BIGINT)
               * (ca + cb)) AS BIGINT) AS u_e9
      FROM cum CROSS JOIN tot)
    SELECT tot.n, tot.m,
           CAST(round(tot.n * tot.m * 1.0 / ((tot.n + tot.m)
                      * (tot.n + tot.m)) * u_e9 / 1000.0) AS BIGINT)
             AS cvm_e6
    FROM terms CROSS JOIN tot
"""


@register("q331_cramer_von_mises", _DUCK_CVM)
def q331_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer-von Mises two-sample statistic (Anderson 1962) between
    the click and view value distributions — the INTEGRATED-squared
    ECDF distance that completes the drift triptych: q161's KS reacts
    to the single worst gap, q308's Wasserstein to total transport
    mass, CvM to accumulated squared divergence (sensitive to many
    small departures KS misses). T = nm/(n+m)^2 * sum_x (F_n(x) -
    G_m(x))^2 * w(x) over the pooled value histogram with w = pooled
    count at x.

    Determinism: ECDF ratios are exact-integer divisions; each squared
    gap quantizes to e9 BEFORE the weighted integer sum (the q308
    per-term contract), so partitioning cannot move the answer.

    100 TB shape: one (group, value) histogram aggregate, one
    histogram-bounded cumulative window, one scalar reduction —
    identical plan skeleton to q308, same escalation (pre-bucket the
    value grid) at extreme cardinality."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.when(F.col("event_type") == "click", "a").otherwise("b").alias("grp"),
        quantise("value", 2).alias("v_c"),
    )
    hist = materialize(
        s.groupBy("v_c")
        .agg(
            F.sum(F.when(F.col("grp") == "a", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("grp") == "b", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
        # histogram feeds totals AND the cumulative
    )
    tot = hist.agg(
        F.sum("ca").cast("bigint").alias("n"),
        F.sum("cb").cast("bigint").alias("m"),
    )
    wc = Window.orderBy("v_c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "ca",
        "cb",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
    )
    gap = (
        F.col("cum_a") * 1.0 / F.col("n") - F.col("cum_b") * 1.0 / F.col("m")
    )
    terms = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(1000000000.0 * gap * gap).cast("bigint")
            * (F.col("ca") + F.col("cb"))
        )
        .cast("bigint")
        .alias("u_e9"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    return terms.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("m").cast("bigint").alias("m"),
        F.round(
            F.col("n")
            * F.col("m")
            * 1.0
            / ((F.col("n") + F.col("m")) * (F.col("n") + F.col("m")))
            * F.col("u_e9")
            / 1000.0
        )
        .cast("bigint")
        .alias("cvm_e6"),
    )


# --- q363: Box-Cox transform selection by profile likelihood (round 6) ------
# lambda grid scaled by 10 so the lattice is exact integers end-to-end.
_BOXCOX_LAMBDAS = [-20, -10, -5, 0, 5, 10, 15, 20]

_DUCK_BOXCOX = f"""
    WITH lam AS (
      SELECT unnest(ARRAY{_BOXCOX_LAMBDAS}) AS lam_deci),
         row_t AS (
      SELECT lam.lam_deci,
             CASE WHEN lam.lam_deci = 0
                  THEN CAST(round(1000000 * ln(o.o_totalprice / 1000.0))
                            AS BIGINT)
                  ELSE CAST(round(1000000
                         * (pow(o.o_totalprice / 1000.0, lam.lam_deci / 10.0)
                            - 1.0) / (lam.lam_deci / 10.0)) AS BIGINT)
             END AS y_u,
             CAST(round(1000000 * ln(o.o_totalprice / 1000.0)) AS BIGINT)
               AS lx_u
      FROM orders o CROSS JOIN lam),
         agg AS (
      SELECT lam_deci,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_u) AS DOUBLE) AS sy,
             CAST(sum(CAST(y_u AS HUGEINT) * y_u) AS DOUBLE) AS syy,
             CAST(sum(lx_u) AS DOUBLE) AS slx
      FROM row_t GROUP BY 1),
         ll AS (
      SELECT lam_deci, n,
             -0.5 * n * ln(((syy - sy * sy / n) / n) / 1e12)
               + (lam_deci / 10.0 - 1.0) * slx / 1e6 AS ll
      FROM agg)
    SELECT lam_deci, n,
           CAST(round(1000.0 * ll) AS BIGINT) AS ll_milli,
           CAST(CASE WHEN round(1000.0 * ll)
                       = max(round(1000.0 * ll)) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS is_best
    FROM ll ORDER BY lam_deci
"""


@register("q363_boxcox_profile", _DUCK_BOXCOX)
def q363_boxcox_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox power-transform selection by profile log-likelihood over
    a fixed lambda grid (Box & Cox, JRSS-B 1964): for each lambda,
    LL(lambda) = -(n/2) ln(sigma^2_MLE(y_lambda)) + (lambda-1) SUM ln x
    — the normality-restoring transform picker that precedes every
    parametric model on skewed revenue data (o_totalprice, rescaled to
    k$ so the lambda=2 branch stays in range).

    Exactness: per-row transforms quantize to 1e-6 BEFORE summation
    (the repo's Kahan-free determinism contract — float sums are not
    associative across engines, integer sums are); the y^2 accumulator
    exceeds int64 at corpus scale, so both engines sum EXACTLY in wide
    integers (Spark decimal(38,0), DuckDB HUGEINT) and convert the
    identical exact integer to double once, at the end.

    100 TB shape: the lambda lattice (8 rows) broadcasts; ONE corpus
    pass computes all 8 transforms (explode-then-partial-agg, map-side
    combined, shuffle = 8 x partial rows); the argmax is a window over
    an 8-row frame. Zero iteration — the grid IS the optimizer."""
    orders = load_table(spark, sf_dir, "orders")
    lam = spark.createDataFrame(
        [(int(v),) for v in _BOXCOX_LAMBDAS], "lam_deci long"
    )
    xk = F.col("o_totalprice") / 1000.0
    lam_f = F.col("lam_deci") / 10.0
    y_u = (
        F.when(F.col("lam_deci") == 0, F.round(1000000 * F.log(xk)))
        .otherwise(F.round(1000000 * (F.pow(xk, lam_f) - 1.0) / lam_f))
        .cast("bigint")
    )
    lx_u = quantise(F.log(xk), 6)
    rows = orders.crossJoin(F.broadcast(lam)).select(
        "lam_deci", y_u.alias("y_u"), lx_u.alias("lx_u")
    )
    agg = rows.groupBy("lam_deci").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("y_u").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("y_u").cast("decimal(38,0)") * F.col("y_u"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("lx_u").cast("decimal(38,0)")).cast("double").alias("slx"),
    )
    ll = agg.select(
        "lam_deci",
        "n",
        (
            -0.5
            * F.col("n")
            * F.log(
                ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / F.col("n"))
                / 1e12
            )
            + (F.col("lam_deci") / 10.0 - 1.0) * F.col("slx") / 1e6
        ).alias("ll"),
    )
    w = Window.partitionBy()
    return ll.select(
        "lam_deci",
        "n",
        quantise("ll", 3).alias("ll_milli"),
        F.when(
            F.round(1000.0 * F.col("ll"))
            == F.max(F.round(1000.0 * F.col("ll"))).over(w),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_best"),
    ).orderBy("lam_deci")


# --- q369: Cochran-Mantel-Haenszel pooled odds ratio (round 6) --------------
_DUCK_CMH = """
    WITH base AS (
      SELECT n.n_name AS stratum,
             CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 0 END AS x,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
         cell AS (
      SELECT stratum,
             CAST(sum(x * y) AS BIGINT) AS a,
             CAST(sum(x * (1 - y)) AS BIGINT) AS b,
             CAST(sum((1 - x) * y) AS BIGINT) AS c,
             CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY 1),
         terms AS (
      SELECT a,
             CAST(round(1000000.0 * a * d / n) AS BIGINT) AS ad_u,
             CAST(round(1000000.0 * b * c / n) AS BIGINT) AS bc_u,
             CAST(round(1000000.0 * (a + b) * (a + c) / n) AS BIGINT) AS e_u,
             CASE WHEN n > 1 THEN
               CAST(round(1000000.0 * (a + b) * (c + d)
                          * (a + c) * (b + d)
                          / (n * 1.0 * n * (n - 1))) AS BIGINT)
             ELSE 0 END AS v_u
      FROM cell),
         pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(a) AS BIGINT) AS sum_a,
             CAST(sum(ad_u) AS BIGINT) AS sad_u,
             CAST(sum(bc_u) AS BIGINT) AS sbc_u,
             CAST(sum(e_u) AS BIGINT) AS se_u,
             CAST(sum(v_u) AS BIGINT) AS sv_u
      FROM terms),
         crude AS (
      SELECT sum(x * y) AS a, sum(x * (1 - y)) AS b,
             sum((1 - x) * y) AS c, sum((1 - x) * (1 - y)) AS d
      FROM base)
    SELECT p.n_strata,
           CAST(round(1000000.0 * p.sad_u / p.sbc_u) AS BIGINT) AS or_mh_e6,
           CAST(round(1000000.0 * cr.a * cr.d / (cr.b * cr.c)) AS BIGINT)
             AS or_crude_e6,
           CAST(round(1000.0
                * (p.sum_a - p.se_u / 1000000.0)
                * (p.sum_a - p.se_u / 1000000.0)
                / (p.sv_u / 1000000.0)) AS BIGINT) AS cmh_chi2_milli
    FROM pooled p CROSS JOIN crude cr
"""


@register("q369_cmh_odds_ratio", _DUCK_CMH)
def q369_cmh_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified association (Cochran 1954;
    Mantel & Haenszel, JNCI 1959): pooled odds ratio between customer
    parity and urgent-order rate, stratified by nation — the estimator
    that answers q216's Simpson's-paradox demonstration: the CRUDE
    odds ratio mixes strata and can point the wrong way; OR_MH
    combines the per-stratum 2x2 tables with Mantel-Haenszel weights,
    and the CMH chi-square tests the common association.

    Exactness: each stratum's 2x2 cells are one integer aggregate; the
    MH numerator/denominator, expectation, and variance terms quantize
    to micro per stratum BEFORE pooling — integer pooling sums, double
    math only on the final exact integers.

    100 TB shape: ONE fact-side aggregate to |strata| 2x2 tables
    (map-side combined; dims broadcast), then closed-form arithmetic
    on the 25-row stratum table. The crude OR reuses the same cells
    via a second bounded reduction — no second corpus pass (both
    derive from the checkpointed cell table)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("stratum"),
            F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(0).alias("x"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cell = materialize(
        base.groupBy("stratum")
        .agg(
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("a"),
            F.sum(F.col("x") * (1 - F.col("y"))).cast("bigint").alias("b"),
            F.sum((1 - F.col("x")) * F.col("y")).cast("bigint").alias("c"),
            F.sum((1 - F.col("x")) * (1 - F.col("y"))).cast("bigint").alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    terms = cell.select(
        "a",
        "b",
        "c",
        "d",
        F.round(1000000.0 * F.col("a") * F.col("d") / F.col("n"))
        .cast("bigint")
        .alias("ad_u"),
        F.round(1000000.0 * F.col("b") * F.col("c") / F.col("n"))
        .cast("bigint")
        .alias("bc_u"),
        F.round(
            1000000.0 * (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) / F.col("n")
        )
        .cast("bigint")
        .alias("e_u"),
        F.when(
            F.col("n") > 1,
            F.round(
                1000000.0
                * (F.col("a") + F.col("b"))
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d"))
                / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
            ).cast("bigint"),
        )
        .otherwise(0)
        .alias("v_u"),
    )
    pooled = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("ad_u").cast("bigint").alias("sad_u"),
        F.sum("bc_u").cast("bigint").alias("sbc_u"),
        F.sum("e_u").cast("bigint").alias("se_u"),
        F.sum("v_u").cast("bigint").alias("sv_u"),
    )
    crude = cell.agg(
        F.sum("a").alias("ca"),
        F.sum("b").alias("cb"),
        F.sum("c").alias("cc"),
        F.sum("d").alias("cd"),
    )
    diff = F.col("sum_a") - F.col("se_u") / 1000000.0
    return pooled.crossJoin(F.broadcast(crude)).select(
        "n_strata",
        F.round(1000000.0 * F.col("sad_u") / F.col("sbc_u"))
        .cast("bigint")
        .alias("or_mh_e6"),
        F.round(1000000.0 * F.col("ca") * F.col("cd") / (F.col("cb") * F.col("cc")))
        .cast("bigint")
        .alias("or_crude_e6"),
        F.round(1000.0 * diff * diff / (F.col("sv_u") / 1000000.0))
        .cast("bigint")
        .alias("cmh_chi2_milli"),
    )


# --- q370: Friedman rank test over day blocks (round 6) ---------------------
_DUCK_FRIEDMAN = """
    WITH dt AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             event_type, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
         grid AS (
      SELECT d.d, t.event_type, coalesce(dt.x, 0) AS x
      FROM (SELECT DISTINCT d FROM dt) d
      CROSS JOIN (SELECT DISTINCT event_type FROM dt) t
      LEFT JOIN dt ON dt.d = d.d AND dt.event_type = t.event_type),
         rk AS (
      SELECT d, event_type, x,
             rank() OVER (PARTITION BY d ORDER BY x) AS rmin,
             count(*) OVER (PARTITION BY d, x) AS tc
      FROM grid),
         half AS (
      SELECT event_type,
             CAST(sum(2 * rmin + tc - 1) AS BIGINT) AS r2
      FROM rk GROUP BY event_type),
         dims AS (
      SELECT CAST(count(DISTINCT d) AS BIGINT) AS b,
             CAST(count(DISTINCT event_type) AS BIGINT) AS k
      FROM grid),
         ties AS (
      SELECT CAST(sum(t3.c * t3.c * t3.c - t3.c) AS BIGINT) AS tie_sum
      FROM (SELECT d, x, CAST(count(*) AS BIGINT) AS c
            FROM grid GROUP BY 1, 2) t3),
         stat AS (
      SELECT dims.b, dims.k,
             12.0 * sum((half.r2 / 2.0) * (half.r2 / 2.0))
               / (dims.b * dims.k * (dims.k + 1))
               - 3.0 * dims.b * (dims.k + 1) AS chi2,
             1.0 - ties.tie_sum * 1.0
               / (dims.b * dims.k * (dims.k * dims.k - 1.0)) AS c_tie
      FROM half CROSS JOIN dims CROSS JOIN ties
      GROUP BY dims.b, dims.k, ties.tie_sum)
    SELECT b AS n_blocks, k AS n_treatments,
           CAST(round(1000.0 * chi2) AS BIGINT) AS chi2_milli,
           CAST(round(1000000.0 * c_tie) AS BIGINT) AS tie_correction_e6,
           CAST(round(1000.0 * chi2 / c_tie) AS BIGINT) AS chi2_adj_milli
    FROM stat
"""


@register("q370_friedman_test", _DUCK_FRIEDMAN)
def q370_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman two-way rank test (Friedman, JASA 1937): days are
    BLOCKS, event types are TREATMENTS, daily counts are ranked WITHIN
    each day, and the chi-square asks whether any event type
    systematically out-ranks the others once day-to-day level shifts
    are blocked out — the repeated-measures complement to q326's
    Kruskal-Wallis (which assumes independent groups and would let a
    single busy day dominate), with the tie-correction divisor.

    Exactness: average ranks with ties are held in HALF-UNIT integers
    (2*avg_rank = 2*rank_min + tiecount - 1, always integral); rank
    sums, tie cubes, and the block/treatment dims are exact integers;
    both engines run the same closed form on them.

    100 TB shape: one corpus pass to the calendar-bounded (day, type)
    grid; the zero-fill cross join, ranking window, and statistic all
    run on |days| x |types| rows. Ranking partitions by day — k-sized
    frames, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    dt = materialize(
        ev.groupBy(
            F.floor(F.unix_timestamp(F.col("ts").cast("date")) / 86400)
            .cast("bigint")
            .alias("d"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    days = dt.select("d").distinct()
    types = dt.select("event_type").distinct()
    grid = materialize(
        days.crossJoin(F.broadcast(types))
        .join(dt, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    wd = Window.partitionBy("d").orderBy("x")
    wt = Window.partitionBy("d", "x")
    rk = grid.select(
        "d",
        "event_type",
        "x",
        F.rank().over(wd).alias("rmin"),
        F.count(F.lit(1)).over(wt).alias("tc"),
    )
    half = rk.groupBy("event_type").agg(
        F.sum(2 * F.col("rmin") + F.col("tc") - 1).cast("bigint").alias("r2")
    )
    dims = grid.agg(
        F.countDistinct("d").cast("bigint").alias("b"),
        F.countDistinct("event_type").cast("bigint").alias("k"),
    )
    ties = (
        grid.groupBy("d", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
            .cast("bigint")
            .alias("tie_sum")
        )
    )
    stat = (
        half.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(ties))
        .groupBy("b", "k", "tie_sum")
        .agg(
            (
                12.0
                * F.sum((F.col("r2") / 2.0) * (F.col("r2") / 2.0))
                / (F.col("b") * F.col("k") * (F.col("k") + 1))
                - 3.0 * F.col("b") * (F.col("k") + 1)
            ).alias("chi2")
        )
        .withColumn(
            "c_tie",
            1.0
            - F.col("tie_sum")
            * 1.0
            / (F.col("b") * F.col("k") * (F.col("k") * F.col("k") - 1.0)),
        )
    )
    return stat.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        quantise("chi2", 3).alias("chi2_milli"),
        quantise("c_tie", 6)
        .alias("tie_correction_e6"),
        F.round(1000.0 * F.col("chi2") / F.col("c_tie"))
        .cast("bigint")
        .alias("chi2_adj_milli"),
    )


# --- q371: Jarque-Bera normality test (round 6) -----------------------------
_DUCK_JB = """
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         m AS (
      SELECT count(*) AS n,
             sum(c) * 1.0 / count(*) AS mu,
             sqrt((sum(CAST(c AS HUGEINT) * c) * 1.0 / count(*))
                  - (sum(c) * 1.0 / count(*)) * (sum(c) * 1.0 / count(*)))
               AS sd
      FROM x),
         z AS (
      SELECT CAST(round(1000000.0 * ((x.c - m.mu) / m.sd)
                        * ((x.c - m.mu) / m.sd)
                        * ((x.c - m.mu) / m.sd)) AS BIGINT) AS z3_u,
             CAST(round(1000000.0 * ((x.c - m.mu) / m.sd)
                        * ((x.c - m.mu) / m.sd)
                        * ((x.c - m.mu) / m.sd)
                        * ((x.c - m.mu) / m.sd)) AS BIGINT) AS z4_u
      FROM x CROSS JOIN m),
         mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(z3_u) * 1.0 / count(*) / 1000000.0 AS skew,
             sum(z4_u) * 1.0 / count(*) / 1000000.0 AS kurt
      FROM z)
    SELECT n,
           CAST(round(1000000.0 * skew) AS BIGINT) AS skew_e6,
           CAST(round(1000000.0 * kurt) AS BIGINT) AS kurt_e6,
           CAST(round(1000.0 * n / 6.0
                * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0))
                AS BIGINT) AS jb_milli,
           CAST(CASE WHEN n / 6.0
                  * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
                  > 5.991465 THEN 1 ELSE 0 END AS BIGINT) AS reject_normal
    FROM mom
"""


@register("q371_jarque_bera", _DUCK_JB)
def q371_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera, Econ.Letters 1980)
    on order totals: JB = n/6 (S^2 + (K-3)^2/4) from sample skewness
    and kurtosis, vs the chi-square(2) 5% critical value — the
    moment-based normality screen that decides whether q192's t-test
    asymptotics can be trusted, at a cost of two corpus aggregates
    (where Shapiro-Wilk would need order statistics).

    Exactness: pass 1 computes mu/sd from exact integer cent sums
    (HUGEINT / decimal(38,0) for the square term); pass 2 quantizes
    each standardized z^3 and z^4 to micro BEFORE summation — both
    engines standardize against the SAME doubles derived from the same
    exact integers, and the moment sums are associative integer sums.

    100 TB shape: two map-side-combinable passes over one narrow
    column (the classic two-pass moment algorithm; the one-pass
    higher-moment update is the documented swap if the second scan
    ever matters — at the cost of the textbook catastrophic-
    cancellation caveat)."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        quantise("o_totalprice", 2).alias("c")
    )
    m = x.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("c") * 1.0 / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).cast("double")
            * 1.0
            / F.count(F.lit(1))
            - (F.sum("c") * 1.0 / F.count(F.lit(1)))
            * (F.sum("c") * 1.0 / F.count(F.lit(1)))
        ).alias("sd"),
    )
    zc = (F.col("c") - F.col("mu")) / F.col("sd")
    z = x.crossJoin(F.broadcast(m)).select(
        F.round(1000000.0 * zc * zc * zc).cast("bigint").alias("z3_u"),
        F.round(1000000.0 * zc * zc * zc * zc).cast("bigint").alias("z4_u"),
    )
    mom = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("z3_u") * 1.0 / F.count(F.lit(1)) / 1000000.0).alias("skew"),
        (F.sum("z4_u") * 1.0 / F.count(F.lit(1)) / 1000000.0).alias("kurt"),
    )
    jb = (
        F.col("n")
        / 6.0
        * (
            F.col("skew") * F.col("skew")
            + (F.col("kurt") - 3.0) * (F.col("kurt") - 3.0) / 4.0
        )
    )
    return mom.select(
        "n",
        quantise("skew", 6).alias("skew_e6"),
        quantise("kurt", 6).alias("kurt_e6"),
        quantise(jb, 3).alias("jb_milli"),
        F.when(jb > 5.991465, 1).otherwise(0).cast("bigint").alias("reject_normal"),
    )


# --- q377: Brown-Forsythe robust variance-homogeneity test (round 6) --------
_DUCK_BF = """
    WITH x AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events),
         med AS (
      SELECT g, quantile_disc(v_c, 0.5) AS med_c FROM x GROUP BY g),
         z AS (
      SELECT x.g, abs(x.v_c - med.med_c) AS z_c
      FROM x JOIN med USING (g)),
         grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z_c) AS BIGINT) AS sz,
             CAST(sum(CAST(z_c AS HUGEINT) * z_c) AS DOUBLE) AS szz
      FROM z GROUP BY g),
         tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(sz) AS DOUBLE) AS gsz
      FROM grp),
         parts AS (
      SELECT tot.nn, tot.k,
             sum(grp.n * (grp.sz * 1.0 / grp.n - tot.gsz / tot.nn)
                       * (grp.sz * 1.0 / grp.n - tot.gsz / tot.nn)) AS ssb,
             sum(grp.szz - grp.sz * 1.0 * grp.sz / grp.n) AS ssw
      FROM grp CROSS JOIN tot GROUP BY tot.nn, tot.k)
    SELECT k AS n_groups, nn AS n_obs,
           CAST(round(1000.0 * (ssb / (k - 1)) / (ssw / (nn - k)))
                AS BIGINT) AS f_milli,
           CAST(CASE WHEN (ssb / (k - 1)) / (ssw / (nn - k)) > 2.372
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_homogeneity
    FROM parts
"""


@register("q377_brown_forsythe", _DUCK_BF)
def q377_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe robust test of variance homogeneity (Brown &
    Forsythe, JASA 1974 — Levene's test with MEDIAN centering):
    one-way ANOVA on absolute deviations from each group's median —
    the precondition check for q325's ANOVA (whose F assumes equal
    variances) that stays valid under the heavy tails q287/q213 keep
    finding in event values. Critical value: F(4, inf) at 5%.

    Exactness: medians are exact discrete percentiles of integer
    cents; |x - med| is an exact integer per row; group sums (and the
    HUGEINT/decimal square sums) are exact, and both engines run the
    same closed-form F on them.

    100 TB shape: one pass for per-group exact medians (or the
    documented approx_percentile swap at extreme cardinality), one
    map-side-combinable moment pass for the deviations (the median
    table broadcasts), one 5-row closed form. No per-row double
    sums anywhere."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        F.col("event_type").alias("g"),
        quantise("value", 2).alias("v_c"),
    )
    med = x.groupBy("g").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v_c)").alias("med_c")
    )
    z = x.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v_c") - F.col("med_c")).alias("z_c")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z_c").cast("bigint").alias("sz"),
        F.sum(F.col("z_c").cast("decimal(38,0)") * F.col("z_c"))
        .cast("double")
        .alias("szz"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sz").cast("double").alias("gsz"),
    )
    gm = F.col("sz") * 1.0 / F.col("n") - F.col("gsz") / F.col("nn")
    parts = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("nn", "k")
        .agg(
            F.sum(F.col("n") * gm * gm).alias("ssb"),
            F.sum(F.col("szz") - F.col("sz") * 1.0 * F.col("sz") / F.col("n")).alias(
                "ssw"
            ),
        )
    )
    f_stat = (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nn") - F.col("k")))
    return parts.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_obs"),
        quantise(f_stat, 3).alias("f_milli"),
        F.when(f_stat > 2.372, 1).otherwise(0).cast("bigint").alias(
            "reject_homogeneity"
        ),
    )


# --- q378: Kish design effect of a reweighting (round 6) --------------------
_DUCK_KISH = """
    WITH src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src
      FROM documents GROUP BY source),
         tot AS (
      SELECT CAST(sum(n_src) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k FROM src),
         w AS (
      -- uniform-target reweighting: weight each doc so every source
      -- contributes equally (the q83 mixture flattened to uniform)
      SELECT src.source, src.n_src,
             CAST(round(1000000.0 * tot.n / (tot.k * src.n_src)) AS BIGINT)
               AS w_u
      FROM src CROSS JOIN tot),
         mom AS (
      SELECT CAST(sum(n_src * w_u) AS BIGINT) AS sw,
             CAST(sum(n_src * CAST(w_u AS HUGEINT) * w_u) AS DOUBLE) AS sww,
             CAST(sum(n_src) AS BIGINT) AS n
      FROM w)
    SELECT n,
           CAST((SELECT k FROM tot) AS BIGINT) AS n_sources,
           CAST(round(1000000.0 * n * sww / (sw * 1.0 * sw)) AS BIGINT)
             AS deff_e6,
           CAST(round(n / (n * sww / (sw * 1.0 * sw)))
                AS BIGINT) AS n_eff
    FROM mom
"""


@register("q378_kish_design_effect", _DUCK_KISH)
def q378_kish_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish design effect (Kish, 'Survey Sampling' 1965):
    deff = n SUM(w^2) / (SUM w)^2 = 1 + cv^2(w) of a uniform-target
    source reweighting over the document corpus, and the effective
    sample size n/deff — the number that says how much statistical
    power a q83-style mixture reweighting THROWS AWAY (weights far
    from uniform inflate estimator variance even as they fix the
    mix). Every weighted corpus metric upstream (q153 DSIR, q164
    temperature mixes) should be read against this deff.

    Exactness: weights collapse to one value per source, so the moment
    sums are exact integer (count x micro-weight) products — the
    per-row weighted sum reduces to a |sources|-row closed form
    identical in both engines (the q303 cell-collapse contract).

    100 TB shape: ONE map-side-combinable source-count aggregate;
    everything else is arithmetic on the |sources|-row table."""
    docs = load_table(spark, sf_dir, "documents")
    src = materialize(docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src")
    ))
    tot = src.agg(
        F.sum("n_src").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = src.crossJoin(F.broadcast(tot)).select(
        "n_src",
        "n",
        "k",
        F.round(1000000.0 * F.col("n") / (F.col("k") * F.col("n_src")))
        .cast("bigint")
        .alias("w_u"),
    )
    mom = w.agg(
        F.sum(F.col("n_src") * F.col("w_u")).cast("bigint").alias("sw"),
        F.sum(F.col("n_src") * F.col("w_u").cast("decimal(38,0)") * F.col("w_u"))
        .cast("double")
        .alias("sww"),
        F.sum("n_src").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
    )
    deff = F.col("n") * F.col("sww") / (F.col("sw") * 1.0 * F.col("sw"))
    return mom.select(
        "n",
        F.col("k").alias("n_sources"),
        quantise(deff, 6).alias("deff_e6"),
        F.round(F.col("n") / deff).cast("bigint").alias("n_eff"),
    )


# --- q384: Kendall tau-b rank correlation (round 6) -------------------------
_DUCK_KENDALL = """
    WITH met AS (
      SELECT c.c_nationkey AS nk,
             CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_c,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1),
         pairs AS (
      SELECT CASE WHEN sign(a.bal_c - b.bal_c) * sign(a.rev_c - b.rev_c) > 0
                  THEN 1 ELSE 0 END AS conc,
             CASE WHEN sign(a.bal_c - b.bal_c) * sign(a.rev_c - b.rev_c) < 0
                  THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.bal_c = b.bal_c AND a.rev_c <> b.rev_c
                  THEN 1 ELSE 0 END AS tie_x,
             CASE WHEN a.rev_c = b.rev_c AND a.bal_c <> b.bal_c
                  THEN 1 ELSE 0 END AS tie_y
      FROM met a JOIN met b ON a.nk < b.nk),
         s AS (
      SELECT CAST(sum(conc) AS BIGINT) AS nc,
             CAST(sum(disc) AS BIGINT) AS nd,
             CAST(sum(tie_x) AS BIGINT) AS tx,
             CAST(sum(tie_y) AS BIGINT) AS ty,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM met) AS n_groups,
           nc, nd, n_pairs,
           CAST(round(1000000.0 * (nc - nd)
                / sqrt((nc + nd + tx) * 1.0 * (nc + nd + ty)))
                AS BIGINT) AS tau_b_e6
    FROM s
"""


@register("q384_kendall_tau", _DUCK_KENDALL)
def q384_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (Kendall, Biometrika 1938; tau-b
    tie correction: Kendall 1945) between per-nation account-balance
    mass and order revenue: the concordant-minus-discordant pair score
    that q281's Spearman approximates — tau has a direct probabilistic
    reading (P[concordant] - P[discordant]) and is the standard
    robustness companion when the 25-group metric table is small
    enough for exact pairs.

    Exactness: both metrics are exact integer cent sums; concordance
    is integer sign arithmetic; the only double is the final
    normalization of five exact integers.

    100 TB shape: ONE fact-side aggregate to the |nations| metric
    table; the pair join is GROUP-bounded (25^2 pairs regardless of
    corpus size) — the q330 calendar-bounded pattern with nations in
    place of days."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    met = materialize(
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey", "c_acctbal")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(quantise("c_acctbal", 2))
            .cast("bigint")
            .alias("bal_c"),
            F.sum(quantise("o_totalprice", 2))
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    a = met.select(
        F.col("nk").alias("nka"), F.col("bal_c").alias("ba"), F.col("rev_c").alias("ra")
    )
    b = met.select(
        F.col("nk").alias("nkb"), F.col("bal_c").alias("bb"), F.col("rev_c").alias("rb")
    )
    # Concordance needs only the SIGN of (ba-bb)*(ra-rb); the raw
    # product of two cent-sum differences overflows BIGINT once the
    # per-group sums pass ~3e9 cents (caught by the 5x scaling rerun
    # at sf0.5), so compare the integers directly — exact at any sum
    # magnitude, no double round-trip.
    dbal = F.col("ba") - F.col("bb")
    drev = F.col("ra") - F.col("rb")
    conc = ((dbal > 0) & (drev > 0)) | ((dbal < 0) & (drev < 0))
    disc = ((dbal > 0) & (drev < 0)) | ((dbal < 0) & (drev > 0))
    s = (
        a.join(b, F.col("nka") < F.col("nkb"))
        .agg(
            F.sum(F.when(conc, 1).otherwise(0)).cast("bigint").alias("nc"),
            F.sum(F.when(disc, 1).otherwise(0)).cast("bigint").alias("nd"),
            F.sum(
                F.when((F.col("ba") == F.col("bb")) & (F.col("ra") != F.col("rb")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("tx"),
            F.sum(
                F.when((F.col("ra") == F.col("rb")) & (F.col("ba") != F.col("bb")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("ty"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    ng = met.agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"))
    return s.crossJoin(F.broadcast(ng)).select(
        "n_groups",
        "nc",
        "nd",
        "n_pairs",
        F.round(
            1000000.0
            * (F.col("nc") - F.col("nd"))
            / F.sqrt(
                (F.col("nc") + F.col("nd") + F.col("tx"))
                * 1.0
                * (F.col("nc") + F.col("nd") + F.col("ty"))
            )
        )
        .cast("bigint")
        .alias("tau_b_e6"),
    )


# --- q386: Wilcoxon signed-rank paired test (round 6) -----------------------
_DUCK_WILCOXON = """
    WITH rev AS (
      SELECT c.c_nationkey AS nk,
             year(o.o_orderdate) AS yr,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2),
         d AS (
      SELECT nk,
             max(CASE WHEN yr = 1996 THEN rev_c ELSE 0 END)
               - max(CASE WHEN yr = 1995 THEN rev_c ELSE 0 END) AS diff
      FROM rev GROUP BY nk),
         nz AS (SELECT nk, diff, abs(diff) AS ad FROM d WHERE diff <> 0),
         rk AS (
      SELECT nk, diff,
             rank() OVER (ORDER BY ad) AS rmin,
             count(*) OVER (PARTITION BY ad) AS tc
      FROM nz),
         s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN diff > 0 THEN 2 * rmin + tc - 1
                           ELSE 0 END) AS BIGINT) AS wplus2
      FROM rk),
         ties AS (
      SELECT CAST(coalesce(sum(c * c * c - c), 0) AS BIGINT) AS tie3
      FROM (SELECT ad, CAST(count(*) AS BIGINT) AS c
            FROM nz GROUP BY ad) t),
         z AS (
      SELECT s.n, s.wplus2,
             (s.wplus2 / 2.0 - s.n * (s.n + 1) / 4.0)
               / sqrt(s.n * (s.n + 1.0) * (2 * s.n + 1) / 24.0
                      - ties.tie3 / 48.0) AS zval
      FROM s CROSS JOIN ties)
    SELECT n AS n_pairs,
           CAST(round(wplus2 / 2.0) AS BIGINT) AS w_plus,
           CAST(round(1000.0 * zval) AS BIGINT) AS z_milli,
           CAST(CASE WHEN abs(zval) > 1.959964 THEN 1 ELSE 0 END AS BIGINT)
             AS reject_no_shift
    FROM z
"""


@register("q386_wilcoxon_signed_rank", _DUCK_WILCOXON)
def q386_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon, Biometrics 1945) on PAIRED
    per-nation revenue, 1995 vs 1996: rank the absolute year-over-year
    differences, sum the ranks of the positive ones, and ask whether
    the median shift is zero — the paired complement of q280's
    Mann-Whitney (which assumes independent groups and would throw
    away the nation pairing), with zero-differences dropped and the
    tie-corrected normal approximation.

    Exactness: differences are exact integer cents; average ranks use
    the Friedman half-unit-integer trick (2*rank_min + tiecount - 1);
    tie cubes are integers; one closed form at the end.

    100 TB shape: ONE fact aggregate to the (nation, year) table;
    ranking and the statistic run on <= |nations| rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.filter(F.year("o_orderdate").isin(1995, 1996))
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.sum(quantise("o_totalprice", 2))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    d = rev.groupBy("nk").agg(
        (
            F.max(F.when(F.col("yr") == 1996, F.col("rev_c")).otherwise(0))
            - F.max(F.when(F.col("yr") == 1995, F.col("rev_c")).otherwise(0))
        ).alias("diff")
    )
    nz = materialize(d.filter(F.col("diff") != 0).select(
        "nk", "diff", F.abs(F.col("diff")).alias("ad")
    ))
    wr = Window.orderBy("ad")
    wt = Window.partitionBy("ad")
    rk = nz.select(
        "diff",
        F.rank().over(wr).alias("rmin"),
        F.count(F.lit(1)).over(wt).alias("tc"),
    )
    s = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("diff") > 0, 2 * F.col("rmin") + F.col("tc") - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("wplus2"),
    )
    ties = (
        nz.groupBy("ad")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")), F.lit(0)
            )
            .cast("bigint")
            .alias("tie3")
        )
    )
    zval = (F.col("wplus2") / 2.0 - F.col("n") * (F.col("n") + 1) / 4.0) / F.sqrt(
        F.col("n") * (F.col("n") + 1.0) * (2 * F.col("n") + 1) / 24.0
        - F.col("tie3") / 48.0
    )
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("wplus2") / 2.0).cast("bigint").alias("w_plus"),
        quantise(zval, 3).alias("z_milli"),
        F.when(F.abs(zval) > 1.959964, 1).otherwise(0).cast("bigint").alias(
            "reject_no_shift"
        ),
    )


# --- q408: Storey pi0 and q-values over a 25-test family (round 6) ----------
_ST_TWO60 = float(1 << 60)
_ST_LAMBDA = 0.5
_DUCK_STOREY = f"""
    WITH o AS (
      SELECT c.c_nationkey AS nk,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS vc,
             CAST(concat('0x', substr(md5(concat(CAST(o.o_orderkey AS VARCHAR),
                                                 '#storey')), 1, 15))
                  AS BIGINT) / {_ST_TWO60!r} < 0.5 AS in_a
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         g AS (
      SELECT nk,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN in_a THEN vc ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN NOT in_a THEN vc ELSE 0 END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN in_a THEN CAST(vc AS HUGEINT) * vc
                           ELSE 0 END) AS HUGEINT) AS qa,
             CAST(sum(CASE WHEN NOT in_a THEN CAST(vc AS HUGEINT) * vc
                           ELSE 0 END) AS HUGEINT) AS qb
      FROM o GROUP BY nk
      HAVING least(sum(CASE WHEN in_a THEN 1 ELSE 0 END),
                   sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)) >= 2),
         z AS (
      SELECT nk, na, nb,
             (sa * 1.0 / na - sb * 1.0 / nb)
               / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
                       / (na - 1)) / na
                      + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)
                         / (nb - 1)) / nb) AS zv
      FROM g),
         p AS (
      SELECT nk, zv,
             least(1.0, 2.0 * exp(-0.717 * abs(zv) - 0.416 * zv * zv)) AS pv
      FROM z),
         fam AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             least(1.0, sum(CASE WHEN pv > {_ST_LAMBDA!r} THEN 1 ELSE 0 END)
                        / ((1.0 - {_ST_LAMBDA!r}) * count(*))) AS pi0
      FROM p),
         ranked AS (
      SELECT nk, zv, pv,
             CAST(row_number() OVER (ORDER BY pv, nk) AS BIGINT) AS rk
      FROM p),
         qv AS (
      SELECT ranked.nk, ranked.zv, ranked.pv, ranked.rk, fam.m, fam.pi0,
             min(fam.pi0 * fam.m * ranked.pv / ranked.rk)
               OVER (ORDER BY ranked.rk
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS qval
      FROM ranked CROSS JOIN fam)
    SELECT nk, rk,
           CAST(round(1000.0 * zv) AS BIGINT) AS z_milli,
           CAST(round(1000000000.0 * pv) AS BIGINT) AS p_e9,
           CAST(round(1000000.0 * pi0) AS BIGINT) AS pi0_e6,
           CAST(round(1000000.0 * least(qval, 1.0)) AS BIGINT) AS q_e6
    FROM qv ORDER BY rk
"""


@register("q408_storey_qvalues", _DUCK_STOREY)
def q408_storey_qvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey's pi0 estimate and q-values (Storey, JRSS-B 2002;
    Storey & Tibshirani, PNAS 2003) over a 25-test family — per
    nation, a Welch A/A z on hash-split order values (null by
    construction, q394's harness). pi0-hat = #{{p > lambda}} /
    ((1-lambda) m) at lambda = 0.5 estimates the null fraction, and
    q_i = pi0 * min_{{j >= i}} m p_(j)/j sharpens q295's BH (which
    fixes pi0 = 1): when most tests are null — the A/A case — the
    q-values approach the BH values, and pi0_e6 near 1e6 is itself
    the calibration check.

    Exactness: per-nation sums exact (HUGEINT/decimal squares); z and
    the Lin'89 tail approximation are the q295 closed form (bit-equal
    doubles); the running min over m p/r is on identical doubles and
    the rank permutation is (p, nation)-keyed.

    100 TB shape: ONE (nation, arm)-keyed corpus aggregate after a
    broadcast customer-dim join; everything downstream (ranking,
    pi0, the reverse running min) is m-row grid arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        quantise("o_totalprice", 2).alias("vc"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("o_orderkey").cast("string"), F.lit("#storey"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(_ST_TWO60)
            < 0.5
        ).alias("in_a"),
    )
    g = materialize(
        o.groupBy("nk")
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("na"),
            F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("nb"),
            F.sum(F.when(F.col("in_a"), F.col("vc")).otherwise(0))
            .cast("bigint")
            .alias("sa"),
            F.sum(F.when(~F.col("in_a"), F.col("vc")).otherwise(0))
            .cast("bigint")
            .alias("sb"),
            F.sum(
                F.when(
                    F.col("in_a"), F.col("vc").cast("decimal(38,0)") * F.col("vc")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("qa"),
            F.sum(
                F.when(
                    ~F.col("in_a"), F.col("vc").cast("decimal(38,0)") * F.col("vc")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("qb"),
        )
        .filter(F.least(F.col("na"), F.col("nb")) >= 2)
        # 25-row test family feeds fam + ranked: checkpoint (q296-class)
    )
    var_a = (
        F.col("qa").cast("double")
        - F.col("sa").cast("double") * F.col("sa") / F.col("na")
    ) / (F.col("na") - 1)
    var_b = (
        F.col("qb").cast("double")
        - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
    ) / (F.col("nb") - 1)
    zv = (
        F.col("sa") * 1.0 / F.col("na") - F.col("sb") * 1.0 / F.col("nb")
    ) / F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    pv = F.least(
        F.lit(1.0), 2.0 * F.exp(-0.717 * F.abs(F.col("zv")) - 0.416 * F.col("zv") * F.col("zv"))
    )
    p = g.select("nk", zv.alias("zv")).select("nk", "zv", pv.alias("pv"))
    fam = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.least(
            F.lit(1.0),
            F.sum(F.when(F.col("pv") > _ST_LAMBDA, 1).otherwise(0))
            / ((1.0 - _ST_LAMBDA) * F.count(F.lit(1))),
        ).alias("pi0"),
    )
    ranked = p.select(
        "nk",
        "zv",
        "pv",
        F.row_number().over(Window.orderBy("pv", "nk")).cast("bigint").alias("rk"),
    )
    wrev = Window.orderBy("rk").rowsBetween(0, Window.unboundedFollowing)
    qv = ranked.crossJoin(F.broadcast(fam)).select(
        "nk",
        "zv",
        "pv",
        "rk",
        "pi0",
        F.min(F.col("pi0") * F.col("m") * F.col("pv") / F.col("rk"))
        .over(wrev)
        .alias("qval"),
    )
    return qv.select(
        "nk",
        "rk",
        quantise("zv", 3).alias("z_milli"),
        quantise("pv", 9).alias("p_e9"),
        quantise("pi0", 6).alias("pi0_e6"),
        quantise(F.least(F.col("qval"), F.lit(1.0)), 6)
        .alias("q_e6"),
    ).orderBy("rk")


# --- q409: Page's trend test across ordered years (round 6) -----------------
_DUCK_PAGE = """
    WITH cell AS (
      SELECT c.c_nationkey AS nk,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(round(avg(CAST(round(o.o_totalprice * 100) AS BIGINT)))
                  AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
         k AS (SELECT CAST(count(DISTINCT yr) AS BIGINT) AS k FROM cell),
         full_blocks AS (
      SELECT nk FROM cell GROUP BY nk
      HAVING count(*) = (SELECT k FROM k)),
         g AS (
      SELECT cell.nk, cell.yr, cell.v,
             CAST(dense_rank() OVER (ORDER BY cell.yr) AS BIGINT) AS j
      FROM cell JOIN full_blocks USING (nk)),
         rk AS (
      SELECT nk, j,
             rank() OVER (PARTITION BY nk ORDER BY v) AS rmin,
             count(*) OVER (PARTITION BY nk, v) AS tc
      FROM g),
         l AS (
      SELECT CAST(sum(j * (2 * rmin + tc - 1)) AS BIGINT) AS l2,
             CAST(count(DISTINCT nk) AS BIGINT) AS b
      FROM rk),
         stat AS (
      SELECT l.b, k.k, l.l2 / 2.0 AS lstat,
             l.b * k.k * (k.k + 1) * (k.k + 1) / 4.0 AS mean_l,
             l.b * k.k * k.k * (k.k + 1.0) * (k.k * k.k - 1) / 144.0 AS var_l
      FROM l CROSS JOIN k)
    SELECT b AS n_blocks, k AS n_treatments,
           CAST(round(lstat) AS BIGINT) AS page_l,
           CAST(round(mean_l) AS BIGINT) AS mean_l,
           CAST(round(1000.0 * (lstat - mean_l) / sqrt(var_l)) AS BIGINT)
             AS z_milli,
           CAST(CASE WHEN abs((lstat - mean_l) / sqrt(var_l)) > 1.959964
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_no_trend
    FROM stat
"""


@register("q409_page_trend", _DUCK_PAGE)
def q409_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative (Page, JASA 1963):
    within each complete nation block, rank the per-year average
    order values, then L = sum_j j * R_j against its null moments
    (E[L] = bk(k+1)^2/4, Var[L] = bk^2(k+1)(k^2-1)/144). Where q370's
    Friedman asks "do years differ at all", Page asks "do they trend
    in YEAR ORDER" — strictly more powerful when the alternative is
    monotone (the question a growth analyst actually has). Midranks
    via the q370 (2*rank + ties - 1)/2 identity; the variance is the
    no-tie form (ties in quantized cent averages are measure-zero;
    divergence would only inflate, not bias, z — documented).

    Exactness: cell values are rounded integer cent averages; ranks
    are integers; 2L is an exact integer sum; moments are rationals
    of b, k — identical doubles, quantized once.

    100 TB shape: one (nation, year)-keyed aggregate behind a
    broadcast dim join reduces the corpus to a b*k grid; ranks are
    windows over k-row partitions of that grid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cell = materialize(
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(
            F.round(F.avg(quantise("o_totalprice", 2)))
            .cast("bigint")
            .alias("v")
        )
        # b*k grid feeds k, the block filter, and the rank pass:
        # checkpoint (q296-class)
    )
    k = cell.agg(F.countDistinct("yr").cast("bigint").alias("k"))
    full_blocks = (
        cell.groupBy("nk")
        .agg(F.count(F.lit(1)).alias("ny"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("ny") == F.col("k"))
        .select("nk")
    )
    g = cell.join(full_blocks, "nk").select(
        "nk",
        "v",
        F.dense_rank().over(Window.orderBy("yr")).cast("bigint").alias("j"),
    )
    wr = Window.partitionBy("nk").orderBy("v")
    wt = Window.partitionBy("nk", "v")
    rk = g.select(
        "nk",
        "j",
        F.rank().over(wr).alias("rmin"),
        F.count(F.lit(1)).over(wt).alias("tc"),
    )
    l = rk.agg(
        F.sum(F.col("j") * (2 * F.col("rmin") + F.col("tc") - 1))
        .cast("bigint")
        .alias("l2"),
        F.countDistinct("nk").cast("bigint").alias("b"),
    )
    stat = l.crossJoin(F.broadcast(k)).select(
        "b",
        "k",
        (F.col("l2") / 2.0).alias("lstat"),
        (F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1) / 4.0).alias(
            "mean_l"
        ),
        (
            F.col("b")
            * F.col("k")
            * F.col("k")
            * (F.col("k") + 1.0)
            * (F.col("k") * F.col("k") - 1)
            / 144.0
        ).alias("var_l"),
    )
    z = (F.col("lstat") - F.col("mean_l")) / F.sqrt(F.col("var_l"))
    return stat.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        F.round(F.col("lstat")).cast("bigint").alias("page_l"),
        F.round(F.col("mean_l")).cast("bigint").alias("mean_l"),
        quantise(z, 3).alias("z_milli"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("bigint").alias(
            "reject_no_trend"
        ),
    )


# --- q412: Chow test for a structural break at a known point (round 6) ------
_DUCK_CHOW = """
    WITH day AS (
      SELECT CAST(epoch(CAST(ts AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d0 AS (SELECT min(d) AS d0 FROM day),
         t AS (SELECT d - d0.d0 AS t, y_c FROM day CROSS JOIN d0),
         brk AS (SELECT quantile_disc(t, 0.5) AS tb FROM t),
         seg AS (
      SELECT CASE WHEN t.t <= brk.tb THEN 1 ELSE 2 END AS sg, t.t, t.y_c
      FROM t CROSS JOIN brk),
         s AS (
      SELECT sg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(y_c) AS BIGINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * y_c) AS HUGEINT) AS sty,
             CAST(sum(CAST(y_c AS HUGEINT) * y_c) AS HUGEINT) AS syy
      FROM seg GROUP BY sg),
         sse AS (
      SELECT sg, n,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
             - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
               * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
               / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS e
      FROM s),
         pooled AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(st) AS BIGINT) AS st,
             CAST(sum(stt) AS HUGEINT) AS stt,
             CAST(sum(sy) AS BIGINT) AS sy,
             CAST(sum(sty) AS HUGEINT) AS sty,
             CAST(sum(syy) AS HUGEINT) AS syy
      FROM s),
         psse AS (
      SELECT n,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
             - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
               * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
               / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS e
      FROM pooled),
         parts AS (
      SELECT psse.n, psse.e AS e_p,
             sum(sse.e) AS e_12,
             max(CASE WHEN sse.sg = 1 THEN sse.n END) AS n1,
             max(CASE WHEN sse.sg = 2 THEN sse.n END) AS n2
      FROM sse CROSS JOIN psse GROUP BY psse.n, psse.e)
    SELECT n1, n2,
           CAST(round((e_p - e_12) / 1000000.0) AS BIGINT) AS ssr_drop_e6c2,
           CAST(round(1000.0 * ((e_p - e_12) / 2.0) / (e_12 / (n - 4)))
                AS BIGINT) AS f_milli,
           CAST(CASE WHEN ((e_p - e_12) / 2.0) / (e_12 / (n - 4)) > 3.0
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_stability
    FROM parts
"""


@register("q412_chow_test", _DUCK_CHOW)
def q412_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break at a KNOWN split point (Chow,
    Econometrica 1960): fit the daily-revenue OLS trend pooled and
    separately on each half (split at the median day), then
    F = ((SSE_p - SSE_1 - SSE_2)/k) / ((SSE_1 + SSE_2)/(n - 2k)),
    k = 2. The complement of q401: CUSUM FINDS the most likely break,
    Chow TESTS a hypothesized one (a deploy date, a policy change) —
    the difference between exploration and confirmation, with
    F(2, inf) 5% critical value 3.00.

    Exactness: per-segment moment sums are exact (HUGEINT/decimal
    squares); each SSE is the closed-form residual quadratic from
    those integers — identical doubles, one quantization each.

    100 TB shape: one map-side pass to the day grid; the segment
    moments are ONE more grid aggregate (two groups); everything else
    is scalar arithmetic. The median-day pre-pass is grid-bounded."""
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
    brk = t.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY t)").alias("tb")
    )
    seg = t.crossJoin(F.broadcast(brk)).select(
        F.when(F.col("t") <= F.col("tb"), 1).otherwise(2).alias("sg"), "t", "y_c"
    )
    s = seg.groupBy("sg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
        F.sum("y_c").cast("bigint").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y_c")).alias("sty"),
        F.sum(F.col("y_c").cast("decimal(38,0)") * F.col("y_c")).alias("syy"),
    )

    def _sse_cols(df):
        sxy = F.col("sty").cast("double") - F.col("st").cast("double") * F.col(
            "sy"
        ) / F.col("n")
        sxx = F.col("stt").cast("double") - F.col("st").cast("double") * F.col(
            "st"
        ) / F.col("n")
        syy_c = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
            "sy"
        ) / F.col("n")
        return df.select(
            *df.columns, (syy_c - sxy * sxy / sxx).alias("e")
        )

    sse = _sse_cols(s)
    pooled = _sse_cols(
        s.agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("st").cast("bigint").alias("st"),
            F.sum("stt").alias("stt"),
            F.sum("sy").cast("bigint").alias("sy"),
            F.sum("sty").alias("sty"),
            F.sum("syy").alias("syy"),
        )
    ).select(F.col("n").alias("np"), F.col("e").alias("e_p"))
    parts = sse.crossJoin(F.broadcast(pooled)).groupBy("np", "e_p").agg(
        F.sum("e").alias("e_12"),
        F.max(F.when(F.col("sg") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("sg") == 2, F.col("n"))).alias("n2"),
    )
    fstat = ((F.col("e_p") - F.col("e_12")) / 2.0) / (
        F.col("e_12") / (F.col("np") - 4)
    )
    return parts.select(
        "n1",
        "n2",
        F.round((F.col("e_p") - F.col("e_12")) / 1000000.0)
        .cast("bigint")
        .alias("ssr_drop_e6c2"),
        quantise(fstat, 3).alias("f_milli"),
        F.when(fstat > 3.0, 1).otherwise(0).cast("bigint").alias("reject_stability"),
    )
