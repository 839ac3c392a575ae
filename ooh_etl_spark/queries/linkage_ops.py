"""Round-4 coverage wave: record linkage & spatial joins.

Two candidate-generation problems that are quadratic if done naively
and bounded if done with blocking — the same design law as the dedup
family (q27/q73/q151): never corpus-quadratic, always
block/bucket-quadratic with bounded blocks.

- Entity resolution (Fellegi & Sunter 1969; blocking survey:
  Christen, TKDE 2012): fuzzy-match candidate pairs via a cheap
  blocking key, score within blocks with edit distance. Run at the
  DISTINCT-value level: at 100 TB the distinct name table is orders of
  magnitude smaller than the row count (here 64 distinct names over
  2000 part rows), so canonicalize distincts once and map survivors
  back by key — the standard ER "canonicalization" shape.
- Spatial radius join (grid-file bucketing, Nievergelt et al. 1984 —
  the same cell trick behind GeoSpark/Sedona): points land in
  fixed-degree grid cells; one side expands to its 3x3 cell
  neighborhood, the join key is the CELL, and the exact haversine
  predicate only runs on co-cell candidates. Cell size >= the radius
  window guarantees no missed pair; each pair is generated exactly
  once because the right side joins on its single home cell.

Numeric policy: edit distances, cell ids, and supports are integers;
haversine distances are rounded to integer meters and THRESHOLDED ON
THE ROUNDED VALUE in both engines, so an ulp-level libm difference
cannot flip a pair across the radius boundary unless the true distance
sits within ~1e-9 m of a half-meter boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table

# --- q166: blocked entity-resolution candidates -------------------------
_ER_MIN, _ER_MAX = 1, 5  # edit-distance band: 0 = exact dup (q26's job)

_DUCK_ER = f"""
    WITH n AS (
      SELECT p_name AS nm, count(*) AS support,
             split_part(p_name, ' ', 1) AS b1,
             split_part(p_name, ' ', -1) AS b2
      FROM part GROUP BY p_name),
         cand AS (
      SELECT a.nm AS name_a, b.nm AS name_b,
             levenshtein(a.nm, b.nm) AS lev,
             a.support AS support_a, b.support AS support_b
      FROM n a JOIN n b ON a.b1 = b.b1 AND a.nm < b.nm
      UNION
      SELECT a.nm, b.nm, levenshtein(a.nm, b.nm), a.support, b.support
      FROM n a JOIN n b ON a.b2 = b.b2 AND a.nm < b.nm)
    SELECT name_a, name_b, lev, support_a, support_b
    FROM cand
    WHERE lev BETWEEN {_ER_MIN} AND {_ER_MAX}
    ORDER BY name_a, name_b
"""


@register("q166_entity_blocking", _DUCK_ER)
def q166_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over part names: MULTI-PASS
    blocking (pass 1 keys on the first token, pass 2 on the last),
    candidates unioned with dedup, scored with Levenshtein, fuzzy band
    [1, 5] kept (distance 0 is exact duplication — q26's operator).
    Output: the candidate merge pair plus each side's row support,
    which is what a reviewer (or an auto-merge rule) ranks by.

    Three scale decisions, all load-bearing at 100 TB:
    - ER runs on DISTINCT names, not rows: the groupBy collapses the
      corpus to |distinct| rows (64 here vs 2000; at production scale
      millions vs trillions) and carries the support count along, so
      the quadratic stage never sees row-level duplication.
    - each pass joins on its block key, so candidates are
      sum-of-block-squares, never |distinct|^2; a hot block (skewed
      token) is an AQE skew-split; phonetic/length keys drop in by
      swapping a block expression.
    - blocking trades recall for the quadratic bound, and the trade is
      MEASURED, not assumed: on this fixture single-pass first-token
      blocking finds 46% of the unblocked band-[1,5] pairs, the two
      passes together find 94% (tests/test_linkage_ml.py pins it
      against the exhaustive join) — the standard multi-pass answer
      to blocking recall (Christen, TKDE 2012).

    Levenshtein itself is the classic DP, identical in Spark (JVM) and
    DuckDB — integer output, no float policy needed."""
    p = load_table(spark, sf_dir, "part")
    # checkpoint the |distinct-names| table: both sides of both
    # blocking passes consume it, and without the checkpoint the
    # distinct-shuffle re-ran 4x (audited: 4 parquet scans of part in
    # one plan; now 1).
    n = materialize(
        p.groupBy(F.col("p_name").alias("nm"))
        .agg(F.count(F.lit(1)).alias("support"))
        .withColumn("b1", F.split(F.col("nm"), " ")[0])
        .withColumn("b2", F.element_at(F.split(F.col("nm"), " "), -1))
    )

    def pass_pairs(key: str) -> DataFrame:
        a = n.select(
            F.col("nm").alias("name_a"),
            F.col("support").alias("support_a"),
            F.col(key).alias("blk"),
        )
        b = n.select(
            F.col("nm").alias("name_b"),
            F.col("support").alias("support_b"),
            F.col(key).alias("blk_b"),
        )
        return a.join(
            b,
            (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")),
        ).select(
            "name_a",
            "name_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias("lev"),
            "support_a",
            "support_b",
        )

    # A pair meeting in both passes produces IDENTICAL rows, so
    # union + distinct is the dedup (the oracle's UNION).
    cand = pass_pairs("b1").union(pass_pairs("b2")).distinct()
    return cand.filter(F.col("lev").between(_ER_MIN, _ER_MAX)).orderBy(
        "name_a", "name_b"
    )


# --- q167: grid-bucketed spatial radius join ----------------------------
_RADIUS_M = 10_000  # pair-up customers within 10 km
_CELL_PER_DEG = 5  # 0.2-degree cells; see window bound in the docstring
_EARTH_R = 6_371_000.0

# Deterministic synthetic coordinates derived from the key by modular
# arithmetic (NOT a hash builtin — Spark's and DuckDB's hash functions
# differ; integer * and % are engine-identical). Box: lat 40..50,
# lon -10..10.
_DUCK_GEO = f"""
    WITH c AS (
      SELECT c_custkey AS k,
             40.0 + ((c_custkey * 7919) % 1000) / 100.0 AS lat,
             -10.0 + ((c_custkey * 104729) % 2000) / 100.0 AS lon
      FROM customer),
         g AS (
      SELECT k, lat, lon,
             CAST(floor(lat * {_CELL_PER_DEG}) AS BIGINT) AS ci,
             CAST(floor(lon * {_CELL_PER_DEG}) AS BIGINT) AS cj
      FROM c),
         lhs AS (
      SELECT g.k, g.lat, g.lon, g.ci + di.di AS ci, g.cj + dj.dj AS cj
      FROM g
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS di) di
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS dj) dj),
         cand AS (
      SELECT a.k AS k_a, b.k AS k_b,
             CAST(round(2 * {_EARTH_R} * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2), 2)
             ))) AS BIGINT) AS dist_m
      FROM lhs a JOIN g b ON a.ci = b.ci AND a.cj = b.cj AND a.k < b.k)
    SELECT k_a, k_b, dist_m FROM cand
    WHERE dist_m <= {_RADIUS_M}
    ORDER BY k_a, k_b
"""


def grid_radius_pairs(pts: DataFrame, radius_m: int, cell_deg: float) -> DataFrame:
    """All (k_a, k_b, dist_m) pairs of ``pts`` (columns k, lat, lon)
    within ``radius_m``, by grid-cell bucketing: the LEFT side explodes
    to its 3x3 cell neighborhood, the join key is the cell, the exact
    haversine runs on co-cell candidates only. Caller contract:
    ``cell_deg`` must be >= the radius's angular span at the data's
    extreme latitude (the q167/q194 docstrings carry the arithmetic).
    Each unordered pair is generated exactly once (home-cell right
    side + a < b)."""
    g = pts.select(
        "k",
        "lat",
        "lon",
        F.floor(F.col("lat") / cell_deg).cast("bigint").alias("ci"),
        F.floor(F.col("lon") / cell_deg).cast("bigint").alias("cj"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    lhs = g.select(
        F.col("k").alias("k_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(offsets).alias("o"),
        "ci",
        "cj",
    ).select(
        "k_a",
        "lat_a",
        "lon_a",
        (F.col("ci") + F.col("o.di")).alias("ci"),
        (F.col("cj") + F.col("o.dj")).alias("cj"),
    )
    rhs = g.select(
        F.col("k").alias("k_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("ci").alias("ci_b"),
        F.col("cj").alias("cj_b"),
    )
    dlat = F.radians(F.col("lat_b") - F.col("lat_a")) / 2
    dlon = F.radians(F.col("lon_b") - F.col("lon_a")) / 2
    hav = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians("lat_a")) * F.cos(F.radians("lat_b")) * F.pow(F.sin(dlon), 2)
    )
    dist_m = F.round(2 * _EARTH_R * F.asin(F.sqrt(hav))).cast("bigint")
    return (
        lhs.join(
            rhs,
            (F.col("ci") == F.col("ci_b"))
            & (F.col("cj") == F.col("cj_b"))
            & (F.col("k_a") < F.col("k_b")),
        )
        .select("k_a", "k_b", dist_m.alias("dist_m"))
        .filter(F.col("dist_m") <= radius_m)
    )


@register("q167_geo_grid_join", _DUCK_GEO)
def q167_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join: all customer pairs within 10 km, by grid-cell
    bucketing. Coordinates are derived deterministically from the key
    (modular arithmetic, engine-identical) into a 10x20-degree box;
    each point lands in a 0.2-degree grid cell; the LEFT side explodes
    to its 3x3 cell neighborhood and the join key is the cell — the
    exact haversine runs only on co-cell candidates.

    No missed pair: at the box's top latitude (50 deg) a 10 km radius
    spans 0.090 deg of latitude and 10 / (111.32 * cos 50) = 0.140 deg
    of longitude, both < the 0.2-deg cell, so a neighbor within radius
    is always within one cell step. No double-counted pair: the right
    side joins on its single home cell, and the left explosion visits
    each cell at most once, so each (a, b) meets exactly once; a < b
    orders the pair.

    100 TB shape: the only shuffle is the equi-join on the cell id —
    candidate volume is sum over cells of |cell|^2 x 9, bounded by
    density x area, never n^2. Dense cities = hot cells = AQE
    skew-split; finer cells trade explosion factor against candidate
    count exactly like LSH band width (q28). The haversine is JVM
    codegen (sin/cos/asin builtins), no UDF."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (40.0 + ((F.col("c_custkey") * 7919) % 1000) / 100.0).alias("lat"),
        (-10.0 + ((F.col("c_custkey") * 104729) % 2000) / 100.0).alias("lon"),
    )
    return grid_radius_pairs(c, _RADIUS_M, 1.0 / _CELL_PER_DEG).orderBy(
        "k_a", "k_b"
    )


# --- q194: DBSCAN over the warped point field ---------------------------
_DB_EPS = 20_000  # 20 km
_DB_MINPTS = 5  # core: >= 5 points in the eps-ball, counting self
_DB_CELL = 0.3  # 0.3-deg cells; 20 km at lat 50 spans 0.28 deg of lon

# Density-warped coordinates: squaring the modular residue concentrates
# points near the box corner, giving DBSCAN the density CONTRAST the
# uniform q167 lattice lacks (every point there has 1-2 neighbors, so
# core/border/noise would be degenerate at any threshold).
_DB_COORDS = """
      SELECT c_custkey AS k,
             40.0 + pow((c_custkey * 7919) % 1000, 2) / 100000.0 AS lat,
             -10.0 + pow((c_custkey * 104729) % 1000, 2) / 50000.0 AS lon
      FROM customer
"""

_DUCK_DBSCAN = f"""
    WITH RECURSIVE c AS ({_DB_COORDS}),
         pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM c a JOIN c b ON a.k < b.k
      WHERE CAST(round(2 * {_EARTH_R} * asin(sqrt(
              pow(sin(radians(b.lat - a.lat) / 2), 2)
              + cos(radians(a.lat)) * cos(radians(b.lat))
                * pow(sin(radians(b.lon - a.lon) / 2), 2)
            ))) AS BIGINT) <= {_DB_EPS}),
         und AS (SELECT ka AS n, kb AS m FROM pairs
                 UNION ALL SELECT kb, ka FROM pairs),
         deg AS (SELECT n, count(*) AS d FROM und GROUP BY n),
         core AS (SELECT n FROM deg WHERE d >= {_DB_MINPTS - 1}),
         ce AS (
      SELECT u.n AS src, u.m AS dst FROM und u
      JOIN core x ON u.n = x.n JOIN core y ON u.m = y.n),
         reach(id, label) AS (
      SELECT src, src FROM ce
      UNION
      SELECT e.dst, r.label FROM reach r JOIN ce e ON e.src = r.id),
         core_cluster AS (
      SELECT c.n AS k, coalesce(min(r.label), c.n) AS cluster
      FROM core c LEFT JOIN reach r ON r.id = c.n GROUP BY c.n),
         border AS (
      SELECT u.n AS k, min(cc.cluster) AS cluster
      FROM und u JOIN core_cluster cc ON u.m = cc.k
      WHERE u.n NOT IN (SELECT n FROM core)
      GROUP BY u.n)
    SELECT k, 'core' AS role, cluster FROM core_cluster
    UNION ALL
    SELECT k, 'border', cluster FROM border
    UNION ALL
    SELECT c.k, 'noise', -1 FROM c
    WHERE c.k NOT IN (SELECT k FROM core_cluster)
      AND c.k NOT IN (SELECT k FROM border)
    ORDER BY k
"""


@register("q194_dbscan", _DUCK_DBSCAN)
def q194_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (Ester, Kriegel, Sander & Xu, KDD'96) as a composition of
    the engine's existing operators: eps-neighbor pairs from the GRID
    radius join (q167's bucketing — candidates bounded by density x
    area, never n^2), core points by a degree aggregate (>= minPts-1
    neighbors), clusters by CONNECTED COMPONENTS over the core-core
    graph (q49's checkpointed min-label loop; the oracle's recursive
    CTE), and border points assigned to the smallest neighboring
    core's cluster (deterministic tie-break). Points are the
    density-WARPED customer field — squared modular residues pile
    points near one corner, so the fixture genuinely has dense
    clusters, a sparse tail, and noise (810 / 31 / 659 at sf0.01).

    100 TB shape: every stage is a keyed shuffle on cell, node, or
    pair keys — the grid join replaces the quadratic epsilon-neighbor
    search (the reason naive DBSCAN dies at scale), and the CC loop's
    only driver traffic is its scalar convergence check. This is the
    standard distributed-DBSCAN decomposition (cf. MR-DBSCAN): local
    candidate generation by spatial partition + global label merge."""
    from ooh_etl_spark.operators.graph import connected_components

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (40.0 + F.pow((F.col("c_custkey") * 7919) % 1000, 2) / 100000.0).alias(
            "lat"
        ),
        (-10.0 + F.pow((F.col("c_custkey") * 104729) % 1000, 2) / 50000.0).alias(
            "lon"
        ),
    )
    pairs = grid_radius_pairs(c, _DB_EPS, _DB_CELL)
    # ONE explode (not a self-union, which would run the grid radius
    # join twice — the q296 Union-recompute class), and a checkpoint:
    # the symmetric neighbor set feeds THREE consumers (degree census,
    # core-core edges, border assignment), each of which would
    # otherwise re-derive the radius join (audited: 41 parquet scans
    # in the un-checkpointed physical plan).
    und = materialize(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("k_a").alias("n"), F.col("k_b").alias("m")),
                    F.struct(F.col("k_b").alias("n"), F.col("k_a").alias("m")),
                )
            ).alias("e")
        )
        .select("e.n", "e.m")
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    core = deg.filter(F.col("d") >= _DB_MINPTS - 1).select("n")
    ce = (
        und.join(core.select(F.col("n").alias("cn")), F.col("n") == F.col("cn"))
        .drop("cn")
        .join(core.select(F.col("n").alias("cm")), F.col("m") == F.col("cm"))
        .select(F.col("n").alias("id_a"), F.col("m").alias("id_b"))
    )
    cc = connected_components(ce)  # (id, cluster) for non-isolated cores
    core_cluster = (
        core.join(cc, core.n == cc.id, "left")
        .select(
            F.col("n").alias("k"),
            F.coalesce(F.col("cluster"), F.col("n")).alias("cluster"),
        )
    )
    border = (
        und.join(
            core_cluster.select(F.col("k").alias("m"), "cluster"), "m"
        )
        .join(core.select(F.col("n").alias("is_core")), und.n == F.col("is_core"), "left_anti")
        .groupBy(F.col("n").alias("k"))
        .agg(F.min("cluster").alias("cluster"))
    )
    classified = core_cluster.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    noise = (
        c.select("k")
        .join(classified.select("k"), "k", "left_anti")
        .select("k", F.lit("noise").alias("role"), F.lit(-1).cast("bigint").alias("cluster"))
    )
    return (
        classified.select("k", "role", "cluster")
        .unionByName(noise)
        .orderBy("k")
    )


# --- q296: SymSpell deletion-neighborhood edit-distance join -------------
_DUCK_SYMSPELL = """
    WITH v AS (
      SELECT DISTINCT c_name AS name,
             unnest(list_append(
               list_transform(generate_series(1, length(c_name)),
                 i -> substr(c_name, 1, i - 1)
                      || substr(c_name, i + 1, length(c_name))),
               c_name)) AS variant
      FROM customer),
         pairs AS (
      SELECT DISTINCT a.name AS na, b.name AS nb
      FROM v a JOIN v b ON a.variant = b.variant AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 1),
         neigh AS (
      SELECT name, count(*) AS n_neighbors
      FROM (SELECT na AS name FROM pairs
            UNION ALL SELECT nb AS name FROM pairs) u
      GROUP BY name)
    SELECT CAST(n_neighbors AS BIGINT) AS n_neighbors,
           count(*) AS n_names
    FROM neigh GROUP BY 1 ORDER BY n_neighbors
"""


@register("q296_symspell_edit_join", _DUCK_SYMSPELL)
def q296_symspell_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity SELF-join via the deletion
    neighborhood (FastSS, Bocek et al. 2007; popularized as SymSpell):
    two strings are within Levenshtein 1 iff their {self} + single-
    deletion variant sets intersect, so candidate generation is an
    EQUI-join on variant keys — O(corpus x name_length) candidates —
    instead of the quadratic theta-join a naive fuzzy self-join costs.
    A final exact levenshtein() filter removes the (few) distance-2
    false candidates the deletion rule admits. Output: customers
    bucketed by how many edit-1 neighbors their name has (TPC-H's
    zero-padded names make digit-substitution neighborhoods rich).

    This is the big-big complement of q70's broadcast fuzzy lookup:
    q70 needs one side dimension-sized; this shape joins a corpus to
    ITSELF with bounded per-row fan-out.

    100 TB shape: variant explosion is a narrow per-row map (L+1 rows
    per name); candidates co-partition on ONE shuffle of
    (xxhash64(variant), name) — an 8-byte key instead of the L-char
    variant string — into per-key posting lists whose ordered pair
    expansion runs as stacked Generate operators inside codegen (the
    jaccard_pairs shape; r13 opt — previously a (name, variant)
    DISTINCT plus a variant-keyed self-join; interleaved A/B at
    sf0.1: 3.54s -> 3.06s median, and one exchange removed). Hash
    collisions only ever ADD candidate pairs, which the exact
    levenshtein filter + pair DISTINCT remove — the result is
    provably identical, and the 64-bit key keeps collisions
    negligible anyway. The per-key set-dedupe (zero runs make
    several deletions collide) rides the same aggregate. Hot variant
    keys (shared by thousands of names) are the skew risk — AQE
    splits them, or raise the deletion prefix length the way SymSpell
    does for edit distance 2.

    The runtime is the data shape, not plan waste. TPC-H's zero-padded
    names give nearly every customer about 17 edit-1 neighbours, so at
    sf0.1 the query builds about 1M candidate pairs, makes 977k
    levenshtein calls and keeps 262k true pairs (profiled: variants
    1.0 s, candidate join 1.3 s, verify and distinct 1.8 s).

    r14 attempt, MEASURED SLOWER AND REVERTED (VERDICT r13 item 5):
    keying the posting lists by the exact variant STRING makes the
    pair stream globally unique (a levenshtein<=1 pair of distinct
    names shares exactly ONE variant string — insertion pairs share
    only {the shorter name}; substitution pairs' every (j,k) deletion
    route collapses to the same a-minus-i string via the constant-run
    argument), so the pair DISTINCT exchange could be dropped
    outright (5 -> 4 exchanges). Interleaved A/B at sf0.1 (9
    reps/arm, noop): old med 2.930s / min 2.620 vs new med 3.529s /
    min 3.193 — ~20% SLOWER; the string-keyed hash aggregate costs
    more than the (small) pair DISTINCT saves. Do not re-try without
    evidence that the pair stream dominates (it may at 100 TB gram
    cardinalities, but not here)."""
    cust = load_table(spark, sf_dir, "customer")
    members = (
        cust.select(
            F.col("c_name").alias("name"),
            F.explode(
                F.expr(
                    "array_append(transform(sequence(1, length(c_name)), "
                    "i -> concat(substr(c_name, 1, i - 1), "
                    "substr(c_name, i + 1, length(c_name)))), c_name)"
                )
            ).alias("variant"),
        )
        .groupBy(F.xxhash64("variant").alias("vkey"))
        .agg(F.array_sort(F.collect_set("name")).alias("names"))
        .filter(F.size("names") >= 2)
    )
    pairs = (
        members.select("names", F.posexplode("names").alias("i", "na"))
        .select("na", F.expr("slice(names, i + 2, size(names))").alias("tail"))
        .select("na", F.explode_outer("tail").alias("nb"))
        .filter(F.col("nb").isNotNull())
        .filter(F.levenshtein("na", "nb") <= 1)
        .distinct()
    )
    # One explode, not unionAll of two projections: Spark does NOT
    # share non-cached subtrees across Union branches, so the union
    # form executed the expensive variant self-join TWICE (both
    # branches carried the full join subtree; ~2x the dominant stage).
    neigh = (
        pairs.select(F.explode(F.array("na", "nb")).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )
    return (
        neigh.groupBy(F.col("n_neighbors").cast("bigint").alias("n_neighbors"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_names"))
        .orderBy("n_neighbors")
    )


# --- q307: blocking quality (reduction ratio / pairs completeness) -------
_BLK_PREFIX = 17  # block on all but the last char of the padded name

_DUCK_BLOCKING_EVAL = f"""
    WITH names AS (SELECT c_name AS name FROM customer),
         n_tot AS (SELECT count(*) AS n FROM names),
         blocks AS (
      SELECT substr(name, 1, {_BLK_PREFIX}) AS blk, count(*) AS c
      FROM names GROUP BY 1),
         cand AS (
      SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_cand FROM blocks),
         v AS (
      SELECT DISTINCT name,
             unnest(list_append(
               list_transform(generate_series(1, length(name)),
                 i -> substr(name, 1, i - 1)
                      || substr(name, i + 1, length(name))),
               name)) AS variant
      FROM names),
         truth AS (
      SELECT DISTINCT a.name AS na, b.name AS nb
      FROM v a JOIN v b ON a.variant = b.variant AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 1),
         agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(sum(CASE WHEN substr(na, 1, {_BLK_PREFIX})
                              = substr(nb, 1, {_BLK_PREFIX})
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_found
      FROM truth)
    SELECT CAST(n_tot.n AS BIGINT) AS n_names, cand.n_cand,
           agg.n_truth, agg.n_found,
           CAST(round(10000.0 * (1.0 - cand.n_cand * 2.0
                                 / (n_tot.n * (n_tot.n - 1)))) AS BIGINT)
             AS reduction_ratio_bp,
           CAST(round(10000.0 * agg.n_found / agg.n_truth) AS BIGINT)
             AS pairs_completeness_bp
    FROM n_tot CROSS JOIN cand CROSS JOIN agg
"""


@register("q307_blocking_quality", _DUCK_BLOCKING_EVAL)
def q307_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (Christen, TKDE 2012 survey): before
    trusting an entity-resolution blocking key (q166), measure its
    REDUCTION RATIO (how much of the quadratic pair space the blocks
    prune — from block-size counts alone, sum c*(c-1)/2, no pair ever
    materialized) and its PAIRS COMPLETENESS (what fraction of true
    matches share a block — truth here is the q296 deletion-
    neighborhood edit-1 pair set). The tension between the two numbers
    IS the blocking design problem; a prefix-{_BLK_PREFIX} block gets
    high RR (only same-decade names share a block) but misses the
    third of true matches that differ in an earlier digit.

    100 TB shape: RR needs only a key-count aggregate; PC reuses the
    linear deletion-variant join; nothing is quadratic in the corpus
    — which is exactly the property this query certifies for the
    downstream matcher."""
    cust = load_table(spark, sf_dir, "customer")
    names = cust.select(F.col("c_name").alias("name"))
    # block-size table checkpointed (bounded by |prefixes|): the total
    # derives from it instead of re-scanning; the variant set is
    # checkpointed because BOTH self-join sides consume it (audited: 4
    # parquet scans of customer in one plan; now 2).
    blocks = materialize(
        names.groupBy(F.substring("name", 1, _BLK_PREFIX).alias("blk"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tot = blocks.agg(F.sum("c").cast("bigint").alias("n"))
    cand = blocks.agg(
        # c*(c-1) in decimal(38,0): a hot block of ~3e9 members would
        # overflow the BIGINT product (the q384 class); the /2 of an
        # even decimal stays exact.
        F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1) / 2)
        .cast("bigint")
        .alias("n_cand")
    )
    v = materialize(names.select(
        "name",
        F.explode(
            F.expr(
                "array_append(transform(sequence(1, length(name)), "
                "i -> concat(substr(name, 1, i - 1), "
                "substr(name, i + 1, length(name)))), name)"
            )
        ).alias("variant"),
    ).distinct())
    a = v.select(F.col("name").alias("na"), "variant")
    b = v.select(F.col("name").alias("nb"), "variant")
    truth = (
        a.join(b, "variant")
        .filter(F.col("na") < F.col("nb"))
        .filter(F.levenshtein("na", "nb") <= 1)
        .select("na", "nb")
        .distinct()
    )
    agg = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum(
            F.when(
                F.substring("na", 1, _BLK_PREFIX)
                == F.substring("nb", 1, _BLK_PREFIX),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_found"),
    )
    return (
        n_tot.crossJoin(cand)
        .crossJoin(agg)
        .select(
            F.col("n").cast("bigint").alias("n_names"),
            "n_cand",
            "n_truth",
            "n_found",
            quantise(1.0 - F.col("n_cand") * 2.0 / (F.col("n") * (F.col("n") - 1)), 4)
            .alias("reduction_ratio_bp"),
            F.round(10000.0 * F.col("n_found") / F.col("n_truth"))
            .cast("bigint")
            .alias("pairs_completeness_bp"),
        )
    )


# --- q319: Fellegi-Sunter match/unmatch weights ---------------------------
_DUCK_FS = f"""
    WITH names AS (
      SELECT c_name AS name, c_nationkey AS nk,
             CAST(c_acctbal >= 0 AS INTEGER) AS pos
      FROM customer),
         blocked AS (
      SELECT a.name AS na, a.nk AS nka, a.pos AS pa,
             b.name AS nb, b.nk AS nkb, b.pos AS pb
      FROM names a JOIN names b
        ON substr(a.name, 1, 16) = substr(b.name, 1, 16)
       AND a.name < b.name),
         lab AS (
      SELECT *, CAST(levenshtein(na, nb) <= 1 AS INTEGER) AS is_match,
             CAST(nka = nkb AS INTEGER) AS agree_nation,
             CAST(pa = pb AS INTEGER) AS agree_sign
      FROM blocked),
         fields AS (
      SELECT 'nation' AS field,
             sum(is_match * agree_nation) * 1.0
               / nullif(sum(is_match), 0) AS m,
             sum((1 - is_match) * agree_nation) * 1.0
               / nullif(sum(1 - is_match), 0) AS u
      FROM lab
      UNION ALL
      SELECT 'sign',
             sum(is_match * agree_sign) * 1.0 / nullif(sum(is_match), 0),
             sum((1 - is_match) * agree_sign) * 1.0
               / nullif(sum(1 - is_match), 0)
      FROM lab)
    SELECT field,
           CAST(round(10000 * m) AS BIGINT) AS m_bp,
           CAST(round(10000 * u) AS BIGINT) AS u_bp,
           CAST(round(1000 * ln(m / u)) AS BIGINT) AS agree_weight_milli,
           CAST(round(1000 * ln((1 - m) / (1 - u))) AS BIGINT)
             AS disagree_weight_milli
    FROM fields ORDER BY field
"""


@register("q319_fellegi_sunter", _DUCK_FS)
def q319_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage weights (JASA 1969
    — the theory under every production matcher, e.g. Splink): for
    each comparison field, estimate m = P(agree | match) and
    u = P(agree | non-match) over prefix-16-blocked candidate pairs
    (wider than q307's prefix-17 so the candidate set CONTAINS
    non-matches — with prefix-17 every in-block pair is an edit-1
    match and u is undefined; truth
    = the q296 edit-1 rule standing in for clerical labels), and emit
    the log-likelihood agreement/disagreement weights ln(m/u) and
    ln((1-m)/(1-u)) that a scorer sums per pair. A field whose u is
    high (nation agrees by chance 1/25) earns a small weight; a
    field that rarely agrees on non-matches earns a large one.

    Determinism: agreements and labels are integer flags; m/u are
    integer-count ratios; weights quantize to milli-units.

    100 TB shape: pairs come from the q307-audited block join (never
    quadratic); m/u estimation is ONE aggregate over the candidate
    set; at EM-scale (no labels) the same aggregate becomes the
    E-step's expected-count update — identical plan per iteration."""
    cust = load_table(spark, sf_dir, "customer")
    names = cust.select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        (F.col("c_acctbal") >= 0).cast("int").alias("pos"),
    )
    a = names.select(
        F.col("name").alias("na"),
        F.col("nk").alias("nka"),
        F.col("pos").alias("pa"),
        F.substring("name", 1, 16).alias("blk"),
    )
    b = names.select(
        F.col("name").alias("nb"),
        F.col("nk").alias("nkb"),
        F.col("pos").alias("pb"),
        F.substring("name", 1, 16).alias("blk"),
    )
    lab = (
        a.join(b, "blk")
        .filter(F.col("na") < F.col("nb"))
        .select(
            (F.levenshtein("na", "nb") <= 1).cast("int").alias("is_match"),
            (F.col("nka") == F.col("nkb")).cast("int").alias("agree_nation"),
            (F.col("pa") == F.col("pb")).cast("int").alias("agree_sign"),
        )
    )

    # ONE aggregate computes every field's m/u counts, then an explode
    # unpivots to per-field rows — a per-field union of aggregates
    # would execute the blocked self-join once per field (the q296
    # Union-recompute class; audited: 4 parquet scans of customer in
    # one plan; now 2 — the join's two sides).
    stats = lab.agg(
        F.sum("is_match").alias("sm"),
        F.sum(1 - F.col("is_match")).alias("su"),
        F.sum(F.col("is_match") * F.col("agree_nation")).alias("man"),
        F.sum((1 - F.col("is_match")) * F.col("agree_nation")).alias("uan"),
        F.sum(F.col("is_match") * F.col("agree_sign")).alias("mas"),
        F.sum((1 - F.col("is_match")) * F.col("agree_sign")).alias("uas"),
    )
    sm0 = F.nullif(F.col("sm"), F.lit(0))
    su0 = F.nullif(F.col("su"), F.lit(0))
    fields = stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nation").alias("field"),
                    (F.col("man") * 1.0 / sm0).alias("m"),
                    (F.col("uan") * 1.0 / su0).alias("u"),
                ),
                F.struct(
                    F.lit("sign").alias("field"),
                    (F.col("mas") * 1.0 / sm0).alias("m"),
                    (F.col("uas") * 1.0 / su0).alias("u"),
                ),
            )
        ).alias("f")
    ).select("f.*")
    return fields.select(
        "field",
        quantise("m", 4).alias("m_bp"),
        quantise("u", 4).alias("u_bp"),
        quantise(F.log(F.col("m") / F.col("u")), 3)
        .alias("agree_weight_milli"),
        quantise(F.log((1 - F.col("m")) / (1 - F.col("u"))), 3)
        .alias("disagree_weight_milli"),
    ).orderBy("field")


# --- q335: golden-record survivorship (round 6) ----------------------------
_DUCK_GOLDEN = """
    WITH m AS (
      SELECT substr(c_name, 1, 16) AS cluster_key,
             c_custkey, c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer),
         g AS (
      SELECT cluster_key,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(min(c_custkey) AS BIGINT) AS canonical_id,
             CAST(max(bal_c) AS BIGINT) AS max_bal_c,
             CAST(arg_min(c_nationkey, c_custkey) AS BIGINT) AS home_nation,
             arg_min(c_mktsegment, c_custkey) AS segment
      FROM m GROUP BY cluster_key)
    SELECT * FROM g WHERE n_members >= 2 ORDER BY cluster_key
"""


@register("q335_golden_record", _DUCK_GOLDEN)
def q335_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the merge step that COMPLETES the
    entity-resolution pipeline (block q166/q307 -> score q319 ->
    cluster q49 -> MERGE): each matched cluster (here the prefix-16
    name block standing in for a resolved cluster id) collapses to
    one record under explicit per-field rules — canonical id = min
    key (q26's survivor convention), balance = field-wise max
    (most-favorable), categorical fields from the min-key member
    (min_by/arg_min — deterministic, unlike 'first non-null', which
    is arrival-order-dependent and therefore partitioning-dependent:
    the classic silent MDM bug this query's determinism contract
    exists to kill).

    100 TB shape: ONE aggregate keyed on the cluster id with
    map-side-combinable min/max/min_by — survivorship never re-joins
    members; adding fields adds agg expressions, not passes. Ref:
    Talburt, 'Entity Resolution and Information Quality' (2011),
    survivorship ch."""
    cust = load_table(spark, sf_dir, "customer")
    m = cust.select(
        F.substring("c_name", 1, 16).alias("cluster_key"),
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        quantise("c_acctbal", 2).alias("bal_c"),
    )
    return (
        m.groupBy("cluster_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("c_custkey").cast("bigint").alias("canonical_id"),
            F.max("bal_c").cast("bigint").alias("max_bal_c"),
            F.min_by("c_nationkey", "c_custkey")
            .cast("bigint")
            .alias("home_nation"),
            F.min_by("c_mktsegment", "c_custkey").alias("segment"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_key")
    )


# --- q361: Jaro-Winkler vocabulary linkage (round 6) -----------------------
_DUCK_JW = """
    WITH w AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part),
         use AS (
      SELECT t.w, count(*) AS n_parts
      FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part) t
      GROUP BY 1)
    SELECT a.w AS word_a, b.w AS word_b,
           CAST(round(1000000 * jaro_winkler_similarity(a.w, b.w)) AS BIGINT)
             AS jw_e6,
           CAST(ua.n_parts AS BIGINT) AS n_parts_a,
           CAST(ub.n_parts AS BIGINT) AS n_parts_b
    FROM w a JOIN w b ON a.w < b.w
    JOIN use ua ON ua.w = a.w
    JOIN use ub ON ub.w = b.w
    WHERE round(1000000 * jaro_winkler_similarity(a.w, b.w)) >= 600000
    ORDER BY word_a, word_b
"""


def _jaro(s1: str, s2: str) -> float:
    """Plain Jaro similarity (Jaro, JASA 1989). Independent re-derivation
    from the published definition — NOT a port of any engine's code; the
    oracle cross-checks it against DuckDB's native implementation, which
    was verified bit-identical on the full vocabulary before landing."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    window = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - window), min(l2, i + window + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str) -> float:
    """Winkler's prefix boost (Winkler 1990): p=0.1, prefix cap 4,
    boost only above the 0.7 threshold — the parameterization DuckDB's
    jaro_winkler_similarity uses (verified empirically: abcdef/abcxyz
    at jaro 2/3 gets NO boost; xx/xxxxxxxxxx at 0.7333 does)."""
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * 0.1 * (1.0 - j)


@register("q361_jaro_winkler_vocab", _DUCK_JW)
def q361_jaro_winkler_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler near-match pairs over the DISTINCT part-name
    vocabulary — the string-similarity primitive of record linkage
    (Winkler 1990; Cohen/Ravikumar/Fienberg IIWeb 2003 rank it the
    best general name matcher). Spark has levenshtein but NO native
    jaro-winkler, so this is a genuinely independent dual
    implementation: an Arrow-batched pandas UDF on the Spark side vs
    DuckDB's built-in on the oracle side — the strongest kind of
    oracle (two codebases, one published spec), bit-identical on the
    full vocab (120/120 pairs exact-double equal).

    Scale contract: pairs are generated over the DISTINCT token
    vocabulary, never the corpus — TPC-H p_name draws from a fixed
    92-word list, so the pair count is vocab-bounded (~4.2k pairs) and
    INDEPENDENT of row count; usage counts come from one corpus
    aggregate. At open-vocabulary scale the escalation is the q296
    SymSpell deletion-neighborhood or q28 LSH blocking; the UDF cost
    itself is Arrow-batched, not per-row Python.

    100 TB shape: one corpus scan (word usage counts, map-side
    combined), a broadcast-sized distinct-vocab self-join, and a
    vectorized UDF over the bounded pair table."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    part = load_table(spark, sf_dir, "part")
    words = part.select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    use = materialize(words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    ))
    # r13 opt: carry each side's usage count THROUGH the vocab pair
    # join instead of re-attaching it with two more broadcast joins
    # (and their two broadcast-build jobs) after the UDF filter — the
    # pair table is vocab-bounded, so two extra bigint columns through
    # the Arrow stage are free. Same pairs, same counts.
    a = use.select(F.col("w").alias("word_a"), F.col("n_parts").alias("n_parts_a"))
    b = use.select(F.col("w").alias("word_b"), F.col("n_parts").alias("n_parts_b"))
    pairs = a.join(F.broadcast(b), F.col("word_a") < F.col("word_b"))

    # note: no type annotations on the UDF — this module has
    # `from __future__ import annotations`, which stringifies hints and
    # breaks pandas_udf signature inference; the returnType arg governs.
    @F.pandas_udf(T.LongType())
    def jw_e6(sa, sb):
        import numpy as np  # noqa: PLC0415

        out = [
            int(np.floor(_jaro_winkler(x, y) * 1e6 + 0.5))
            for x, y in zip(sa, sb)
        ]
        return pd.Series(out, dtype="int64")

    scored = pairs.withColumn(
        "jw_e6", jw_e6(F.col("word_a"), F.col("word_b"))
    ).filter(F.col("jw_e6") >= 600000)
    return (
        scored.select("word_a", "word_b", "jw_e6", "n_parts_a", "n_parts_b")
        .orderBy("word_a", "word_b")
    )


# --- q413: Soundex phonetic blocking audit (round 6) ------------------------
# Standard American Soundex (NARA rules), IDENTICALLY expressed in both
# engines, INCLUDING the transparent-h/w rule (round-7 fix, ADVICE r6):
# vowels + y code 0 and separate consonant runs; h/w code 9 and are
# removed BEFORE run-collapse, so same-code consonants straddling an
# h/w collapse to one digit ('Ashcraft' → A261, not the A226 the r6
# variant produced). The first collapsed code (the first letter's run)
# is dropped unless the first letter is itself h/w, which carries no
# code. Codes now interoperate with external standard-Soundex systems.
#   a0 b1 c2 d3 e0 f1 g2 h9 i0 j2 k2 l4 m5 n5 o0 p1 q2 r6 s2 t3 u0 v1
#   w9 x2 y0 z2
_SOUNDEX_MAP = ("abcdefghijklmnopqrstuvwxyz", "01230129022455012623019202")


def soundex_code(w):
    """Standard American Soundex of string column ``w`` as a pure
    codegen Column expression (no UDF): translate to codes (h/w → the
    '9' marker), strip markers, collapse runs per digit, drop the
    first letter's run unless the first letter is h/w, strip vowel
    codes, pad to letter+3."""
    m = F.translate(F.lower(w), _SOUNDEX_MAP[0], _SOUNDEX_MAP[1])
    m2 = F.replace(m, F.lit("9"), F.lit(""))  # h/w transparent: strip pre-collapse
    for d in "0123456":
        m2 = F.regexp_replace(m2, d + "+", d)
    dropped = F.when(
        F.substring(m, 1, 1) != "9", F.substring(m2, 2, 2147483647)
    ).otherwise(m2)
    digits = F.replace(dropped, F.lit("0"), F.lit(""))
    return F.concat(
        F.upper(F.substring(w, 1, 1)),
        F.rpad(F.substring(digits, 1, 3), 3, "0"),
    )


def _duck_soundex(col: str) -> str:
    m = f"translate(lower({col}), '{_SOUNDEX_MAP[0]}', '{_SOUNDEX_MAP[1]}')"
    nohw = f"replace({m}, '9', '')"
    m2 = nohw
    for d in "0123456":
        m2 = f"regexp_replace({m2}, '{d}+', '{d}', 'g')"
    dropped = (
        f"CASE WHEN substr({m}, 1, 1) <> '9' THEN substr({m2}, 2) "
        f"ELSE {m2} END"
    )
    digits = f"replace({dropped}, '0', '')"
    return f"upper(substr({col}, 1, 1)) || rpad(substr({digits}, 1, 3), 3, '0')"


_DUCK_SOUNDEX_BLOCK = f"""
    WITH names AS (
      SELECT string_split(p_name, ' ')[1] AS w,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1),
         coded AS (
      SELECT w, n_parts, {_duck_soundex('w')} AS code FROM names)
    SELECT code,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(n_parts) AS BIGINT) AS n_parts,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs,
           min(w) AS example_a,
           max(w) AS example_z
    FROM coded GROUP BY code ORDER BY code
"""


@register("q413_soundex_blocking", _DUCK_SOUNDEX_BLOCK)
def q413_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex phonetic blocking audit (Russell & Odell's 1918 code;
    Knuth TAOCP v3 §5.5; the default blocking key in record-linkage
    practice per Christen, "Data Matching", 2012): encode the leading
    part-name token, block on the 4-char code, and report each
    block's name count, row mass, and candidate-pair count — the
    blocking-quality numbers (q307's RR/PC inputs) for a key that
    catches SPELLING variants equality blocking misses ('Smith' /
    'Smyth' → S530, 'Ashcraft' / 'Ashcroft' → A261). The code is
    built from translate + h/w strip + per-digit run-collapse +
    vowel strip — pure codegen string ops, no UDF — and follows the
    NARA standard including the transparent-h/w rule, so blocking
    keys interoperate with external standard-Soundex systems.

    Exactness: every step is a deterministic string transform
    expressed identically in both engines (the 7 run-collapse
    regexes avoid backreferences, which RE2 lacks); outputs are
    integer counts and min/max examples. Property-tested against
    the published NARA examples
    (tests/test_linkage_ml.py::test_q413_soundex_known_values).

    100 TB shape: one (name)-keyed agg collapses the corpus to the
    vocab, then one (code)-keyed agg over the vocab — both map-side
    combinable, no joins; the downstream candidate join this key
    feeds is bounded by block sizes, which is exactly what this
    audit measures."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.select(F.split(F.col("p_name"), " ").getItem(0).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    coded = names.select("w", "n_parts", soundex_code(F.col("w")).alias("code"))
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.sum("n_parts").cast("bigint").alias("n_parts"),
            (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
            .cast("bigint")
            .alias("n_pairs"),
            F.min("w").alias("example_a"),
            F.max("w").alias("example_z"),
        )
        .orderBy("code")
    )


# --- q419: Fellegi-Sunter EM parameter estimation, one step (round 7) --------
# fixed starting point (the unsupervised setting: no labels anywhere)
_EM_P0 = 0.05
_EM_M0 = 0.9
_EM_U0 = 0.1

_DUCK_FS_EM = f"""
    WITH n AS (
      SELECT c_name AS name, c_nationkey AS nk,
             CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS pos,
             substr(c_name, 1, 16) AS blk
      FROM customer),
         pat AS (
      SELECT CASE WHEN a.nk = b.nk THEN 1 ELSE 0 END AS g1,
             CASE WHEN a.pos = b.pos THEN 1 ELSE 0 END AS g2,
             CAST(count(*) AS BIGINT) AS n
      FROM n a JOIN n b ON a.blk = b.blk AND a.name < b.name
      GROUP BY 1, 2),
         e AS (
      SELECT g1, g2, n,
             {_EM_P0!r} * pow({_EM_M0!r}, g1) * pow({1 - _EM_M0!r}, 1 - g1)
                      * pow({_EM_M0!r}, g2) * pow({1 - _EM_M0!r}, 1 - g2) AS lm,
             {1 - _EM_P0!r} * pow({_EM_U0!r}, g1) * pow({1 - _EM_U0!r}, 1 - g1)
                            * pow({_EM_U0!r}, g2) * pow({1 - _EM_U0!r}, 1 - g2) AS lu
      FROM pat),
         w AS (
      SELECT g1, g2, n, lm / (lm + lu) AS wm FROM e),
         m AS (
      SELECT sum(n * wm) AS sm, sum(n * (1 - wm)) AS su, sum(n) AS sn,
             sum(n * wm * g1) AS m1n, sum(n * wm * g2) AS m2n,
             sum(n * (1 - wm) * g1) AS u1n, sum(n * (1 - wm) * g2) AS u2n
      FROM w)
    SELECT field,
           CAST(round(1000000 * m_new) AS BIGINT) AS m_e6,
           CAST(round(1000000 * u_new) AS BIGINT) AS u_e6,
           CAST(round(1000000 * p_new) AS BIGINT) AS p_e6
    FROM (
      SELECT 'nation' AS field, m1n / sm AS m_new, u1n / su AS u_new,
             sm / sn AS p_new FROM m
      UNION ALL
      SELECT 'sign' AS field, m2n / sm AS m_new, u2n / su AS u_new,
             sm / sn AS p_new FROM m)
    ORDER BY field
"""


@register("q419_fs_em_step", _DUCK_FS_EM)
def q419_fs_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM iteration for UNSUPERVISED Fellegi-Sunter parameter
    estimation (Winkler 1988, "Using the EM algorithm for weight
    computation in the Fellegi-Sunter model"; the fit step behind
    Splink's `estimate_parameters_using_em`): q319 estimates m/u from
    a labeled truth rule; here there are NO labels — starting from the
    standard uninformative init (p={_EM_P0}, m={_EM_M0}, u={_EM_U0}),
    the E-step scores each agreement PATTERN's match posterior under
    conditional independence, and the M-step re-estimates (m, u, p)
    from the posterior-weighted pattern counts. Output is the
    post-step parameters per field.

    Exactness: pairs aggregate to the 2^2-row agreement-pattern table
    with integer counts; E/M arithmetic runs on those 4 rows with one
    identical double-op sequence per engine and quantizes to micro
    units at the output. The complements (1-m0 etc.) are precomputed
    in Python and interpolated into the oracle SQL via repr() —
    DuckDB would otherwise fold `1 - 0.9` in DECIMAL to an exact 0.1
    that differs from Python's 1-0.9 double in the last ulp
    (ADVICE r7), breaking the bit-identical claim on knife-edge
    values.

    100 TB shape: the ONLY corpus-scale work is the q307-audited
    blocked pair join and its one aggregate to 2^F pattern rows
    (map-side combinable); each further EM iteration re-reads the
    4-row pattern table, NOT the corpus — the iterate-on-a-sketch
    pattern (q293 Bayes-UCB, q357 Bradley-Terry) with per-iteration
    cost independent of data size."""
    cust = load_table(spark, sf_dir, "customer")
    n = cust.select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        (F.col("c_acctbal") >= 0).cast("int").alias("pos"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    a = n.select(
        F.col("name").alias("na"), F.col("nk").alias("nka"),
        F.col("pos").alias("pa"), "blk",
    )
    b = n.select(
        F.col("name").alias("nb"), F.col("nk").alias("nkb"),
        F.col("pos").alias("pb"), "blk",
    )
    pat = (
        a.join(b, "blk")
        .filter(F.col("na") < F.col("nb"))
        .groupBy(
            (F.col("nka") == F.col("nkb")).cast("int").alias("g1"),
            (F.col("pa") == F.col("pb")).cast("int").alias("g2"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    p0, m0, u0 = _EM_P0, _EM_M0, _EM_U0
    lm = (
        F.lit(p0)
        * F.pow(F.lit(m0), F.col("g1")) * F.pow(F.lit(1 - m0), 1 - F.col("g1"))
        * F.pow(F.lit(m0), F.col("g2")) * F.pow(F.lit(1 - m0), 1 - F.col("g2"))
    )
    lu = (
        F.lit(1 - p0)
        * F.pow(F.lit(u0), F.col("g1")) * F.pow(F.lit(1 - u0), 1 - F.col("g1"))
        * F.pow(F.lit(u0), F.col("g2")) * F.pow(F.lit(1 - u0), 1 - F.col("g2"))
    )
    w = pat.select("g1", "g2", "n", (lm / (lm + lu)).alias("wm"))
    m = w.agg(
        F.sum(F.col("n") * F.col("wm")).alias("sm"),
        F.sum(F.col("n") * (1 - F.col("wm"))).alias("su"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("wm") * F.col("g1")).alias("m1n"),
        F.sum(F.col("n") * F.col("wm") * F.col("g2")).alias("m2n"),
        F.sum(F.col("n") * (1 - F.col("wm")) * F.col("g1")).alias("u1n"),
        F.sum(F.col("n") * (1 - F.col("wm")) * F.col("g2")).alias("u2n"),
    )
    out = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nation").alias("field"),
                    (F.col("m1n") / F.col("sm")).alias("m_new"),
                    (F.col("u1n") / F.col("su")).alias("u_new"),
                    (F.col("sm") / F.col("sn")).alias("p_new"),
                ),
                F.struct(
                    F.lit("sign").alias("field"),
                    (F.col("m2n") / F.col("sm")).alias("m_new"),
                    (F.col("u2n") / F.col("su")).alias("u_new"),
                    (F.col("sm") / F.col("sn")).alias("p_new"),
                ),
            )
        ).alias("s")
    ).select(
        F.col("s.field").alias("field"),
        quantise("s.m_new", 6).alias("m_e6"),
        quantise("s.u_new", 6).alias("u_e6"),
        quantise("s.p_new", 6).alias("p_e6"),
    )
    return out.orderBy("field")
