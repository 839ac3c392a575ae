"""Fourteenth coverage wave: graph propagation and modern-SQL parity —
one PageRank iteration over the customer→supplier purchase graph, a
correlated LATERAL top-k (the SQL-standard form of per-group top-k,
planned by Catalyst as a decorrelated window), and market-basket part
co-occurrence (the support-counting core of a recommender).

Scale notes: the PageRank edge list reduces to distinct (src, dst)
before any rank math; LATERAL decorrelates to one window pass (no
per-row re-scan of orders); basket pair generation is a self-join on
o_orderkey whose fan-out is quadratic only in per-order line count
(bounded small), never in table size."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table, load_tables

_LAT_K = 2


@register(
    "q115_lateral_topk",
    f"""
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {_LAT_K}) t
    WHERE c.c_custkey < 40
    ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def q115_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the SQL-standard spelling of
    per-group top-k, executed through the SQL-text API so Catalyst's
    lateral-join decorrelation is what actually plans it (it rewrites
    to the same window + filter as q16/top_k_per_group rather than
    re-running the subquery per outer row — the property that makes
    LATERAL safe at 10^9 outer rows). Identical SQL text runs on both
    engines."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT {_LAT_K}) t
        WHERE c.c_custkey < 40
        ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
        """
    )


_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 in exact integer form


@register(
    "q116_pagerank_step",
    f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         outdeg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src),
         contrib AS (
      -- initial rank 1.0 for every src; contribution = rank/deg in
      -- exact micro-units
      SELECT e.dst, CAST(round(1000000.0 / d.deg) AS BIGINT) AS c_u
      FROM edges e JOIN outdeg d USING (src))
    SELECT dst AS supplier,
           CAST(150000 + floor({_DAMP_NUM} * sum(c_u) / {_DAMP_DEN}.0) AS BIGINT)
             AS rank_u
    FROM contrib
    GROUP BY dst
    ORDER BY rank_u DESC, supplier
    """,
)
def q116_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank iteration over the customer→supplier purchase
    graph (edge = some order by customer c contained a line from
    supplier s): rank' = 0.15 + 0.85 * sum(rank/outdeg) with uniform
    initial ranks, in exact integer micro-units (damping applied as
    85/100 integer arithmetic AFTER the sum, so no float crosses a
    row boundary). The edge list is DISTINCT-reduced before any math;
    out-degrees reuse the edge shuffle's partitioning; iterating feeds
    rank_u back in place of the constant — the q49 label-propagation
    loop structure. Citation: Page et al., 'The PageRank Citation
    Ranking' (1999)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib = edges.join(outdeg, "src").select(
        "dst", F.round(1000000.0 / F.col("deg")).cast("bigint").alias("c_u")
    )
    return (
        contrib.groupBy(F.col("dst").alias("supplier"))
        .agg(
            (F.lit(150000) + F.floor(_DAMP_NUM * F.sum("c_u") / float(_DAMP_DEN)))
            .cast("bigint")
            .alias("rank_u")
        )
        .orderBy(F.col("rank_u").desc(), "supplier")
    )


_BASKET_TOP = 10


@register(
    "q117_market_basket",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, count(*) AS support
    FROM pairs
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT {_BASKET_TOP}
    """,
)
def q117_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs appearing in the
    same order (the support-counting step of Apriori / recommender
    candidate generation). The self-join is keyed on o_orderkey, so
    the pair fan-out is quadratic in LINES PER ORDER (a small bounded
    constant) and linear in order count; the a<b predicate halves it
    and canonicalizes pair identity. DISTINCT first so duplicate part
    lines within an order can't inflate support."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "k").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


_HIER_SQL = """
WITH RECURSIVE up(node, anc, depth) AS (
  SELECT c_custkey AS node, CAST(FLOOR(c_custkey / 10.0) AS BIGINT) AS anc,
         1 AS depth
  FROM customer WHERE c_custkey >= 10
  UNION ALL
  SELECT node, CAST(FLOOR(anc / 10.0) AS BIGINT) AS anc, depth + 1 AS depth
  FROM up WHERE anc >= 10
),
rooted AS (
  SELECT node, anc AS root, depth FROM up WHERE anc < 10
  UNION ALL
  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
  FROM customer WHERE c_custkey < 10
)
SELECT root, count(*) AS n_nodes, max(depth) AS max_depth,
       CAST(sum(depth) AS BIGINT) AS total_depth
FROM rooted GROUP BY root ORDER BY root
"""


@register("q171_recursive_hierarchy", _HIER_SQL)
def q171_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE — new in 4.0): walk a
    synthetic management hierarchy (parent = custkey div 10, a tree of
    depth ~log10 n) from every node to its root, then roll up subtree
    size and depth per root. THE IDENTICAL SQL TEXT runs on both
    engines (the q67/q115 contract): floor-division spelled as
    CAST(FLOOR(x/10.0) AS BIGINT) because Spark's DIV and DuckDB's //
    differ in name but this form parses identically in both.

    100 TB shape: each recursive step is one self-referencing
    equi-join producing strictly fewer rows (anc >= 10 prunes a tenth
    of keyspace per level), and the iteration count is the TREE DEPTH
    (log10 of keyspace, ~11 levels at 10^11 customers), not the row
    count. This is the declarative twin of the checkpointed
    label-propagation loop in operators/graph.py — use the CTE when
    the recursion is a bounded walk, the operator loop when
    convergence is data-dependent and needs per-iteration
    checkpointing to cut lineage."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_HIER_SQL)


_TRI_TOP = 10

_DUCK_TRI = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         pernode AS (
      SELECT unnest([a, b, c]) AS node FROM tri)
    SELECT node, count(*) AS n_triangles
    FROM pernode GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT {_TRI_TOP}
"""


@register("q173_triangle_count", _DUCK_TRI)
def q173_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the co-purchase graph
    (parts co-occurring in an order), top-10 nodes. The Spark plan uses
    DEGREE-ORDERED ORIENTATION (Schank 2007; Suri & Vassilvitskii,
    WWW'11): every undirected edge points from its (degree, id)-smaller
    endpoint to the larger, wedges are generated only at each edge's
    low-degree end, and a wedge (v, w) closes into a triangle iff the
    oriented edge v->w exists. Orientation bounds per-node wedge
    fan-out by O(sqrt(m)) regardless of the true degree distribution —
    a hub with degree d generates ZERO wedges as a source once its
    (deg, id) rank exceeds its neighbors', so total candidates are
    O(m^1.5), the best known for exact counting, instead of the
    naive sum of deg^2 which a power-law hub makes corpus-quadratic.
    The oracle counts the same triangles by plain id-ordering (a<b<c)
    — orientation changes the generation order, not the triangle set.

    All stages are keyed equi-joins (wedge key = source node; closure
    key = the (v, w) pair); the only skew risk is the closure join's
    pair key, which is near-unique by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    # checkpoint: the edge list is consumed by the degree census AND
    # the orientation join — without it each consumer re-runs the
    # order-keyed self-join (the q296 Union-recompute class).
    e = materialize(
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )

    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient: src = (deg, id)-smaller endpoint. Carry dst's (deg, id)
    # so wedge generation can order its two legs without a re-join.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # checkpoint: the oriented edge list feeds three consumers (both
    # wedge legs + the closure probe); without it each re-runs the
    # degree joins.
    oriented = materialize(ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
    ))
    # Wedges at the low end: two out-edges of src, legs ordered by the
    # dst (deg, id) rank so the closing edge's orientation is known.
    o1 = oriented.select("src", F.col("dst").alias("x"), F.col("deg_dst").alias("dx"))
    o2 = oriented.select(
        F.col("src").alias("src2"),
        F.col("dst").alias("y"),
        F.col("deg_dst").alias("dy"),
    )
    wedges = o1.join(o2, F.col("src") == F.col("src2")).filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closer = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closer, ["x", "y"]).select(
        F.col("src").alias("a"), F.col("x").alias("b"), F.col("y").alias("c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(_TRI_TOP)
    )


_Q185_SIG = "count(*) || ':' || sum(l_partkey)"


def _duck_golden_185() -> str:
    from ooh_etl_spark.queries._golden import GOLDEN_Q185

    rows = ",\n        ".join(
        f"('{sig}', {n}, {d})"
        for sig, rs in GOLDEN_Q185.items()
        for n, d in rs
    )
    return f"""
    WITH sig AS (SELECT {_Q185_SIG} AS s FROM lineitem)
    SELECT CAST(node AS BIGINT) AS node,
           CAST(core_degree AS BIGINT) AS core_degree
    FROM (VALUES {rows}) g(gsig, node, core_degree)
    WHERE gsig = (SELECT s FROM sig)
    ORDER BY node
    """


from ooh_etl_spark.queries._golden import GOLDEN_Q185 as _G185  # noqa: E402


@register(
    "q185_k_core",
    _duck_golden_185(),
    golden_guard=f"SELECT {_Q185_SIG} FROM lineitem",
    golden_domain=frozenset(_G185),
)
def q185_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph: the maximal
    induced subgraph where every part keeps >= k co-purchase partners
    (Seidman 1983) — the standard dense-community/influence filter,
    and the fourth member of the graph family (components q49,
    PageRank q116, triangles q173). k is sized from the data — 55% of
    the median degree — because k-core survival has a SHARP percolation
    threshold (Pittel, Spencer & Wormald 1996): on this near-homogeneous
    graph k = 0.7x median already cascades to an EMPTY core at sf0.001
    while 0.55x peels the low-degree tail and stabilizes (measured at
    both fixture scales); any fixed k is vacuous below the min degree
    and annihilating above the threshold at some scale. The
    median is an exact percentile over the degree table (|V| rows —
    driver-cheap at any corpus size; the full graph never leaves the
    executors).

    Correctness: both k and the peel's round count are data-dependent,
    which no fixed recomputing SQL can express — the oracle is a
    GOLDEN VALUES table (VERDICT r10 item 6): the exact surviving
    (node, core_degree) set computed by the pure-Python set-based peel
    in tools/make_golden.py (no Spark) and pinned per lineitem
    signature, with a guard falling back to rows-only on unpinned
    corpora. pytest additionally pins the defining properties — every
    surviving node's induced degree >= k, and the output is a fixpoint
    (re-peeling changes nothing)."""
    from ooh_etl_spark.operators.graph import k_core

    edges = _copurchase_edges(spark, sf_dir)
    return k_core(edges, kcore_k_for(spark, sf_dir)).orderBy("node")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b), id_a < id_b: parts bought in the same order."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("id_b"))
    return a.join(b, "k").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def kcore_k_for(spark: SparkSession, sf_dir: str) -> int:
    """q185's k: 55% of the median co-purchase degree, rounded up
    (shared with its property tests)."""
    import math

    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(F.explode(F.array("id_a", "id_b")).alias("n"))
    med = (
        und.groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("m"))
        .collect()[0][0]
    )
    return math.ceil(0.55 * med)


_BFS_SQL = """
WITH RECURSIVE items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2),
seed AS (SELECT min(l_partkey) AS s FROM items),
bfs(node, d) AS (
  SELECT s AS node, 0 AS d FROM seed
  UNION ALL
  SELECT e.v AS node, bfs.d + 1 AS d
  FROM bfs JOIN e ON e.u = bfs.node WHERE bfs.d < 2
)
SELECT d AS hops, count(*) AS n FROM (
  SELECT node, min(d) AS d FROM bfs GROUP BY node)
GROUP BY d ORDER BY d
"""


@register("q186_bfs_hops", _BFS_SQL)
def q186_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the co-purchase graph — hop
    histogram from the minimum part key, depth-bounded at 2 — as a
    RECURSIVE CTE running the IDENTICAL SQL text on both engines
    (q171's contract, now on a real graph rather than a synthetic
    tree): frontier expansion is the recursive member (one
    self-referencing equi-join per level), and first-visit semantics
    come from the min(d) rollup OUTSIDE the recursion, which keeps the
    recursive member pure union-all (Spark and DuckDB both require
    that).

    100 TB shape: iteration count = the DEPTH BOUND, not graph size;
    each level's frontier join is keyed on the node id. The depth
    bound matters doubly on dense graphs: this one has diameter ~2, so
    unbounded expansion would enumerate every path (superexponential),
    while the bound caps the recursion at |frontier| * avg-degree rows
    per level — the same reason production BFS (GraphFrames, Neo4j)
    always runs level-synchronized with a visited filter. For
    data-dependent convergence instead of a fixed bound, the operator
    loop (operators/graph.py) is the engine's answer."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_BFS_SQL)


_LP_TOP = 10

_DUCK_LINKPRED = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT u AS z, v AS x FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT z AS n, count(*) AS d FROM und GROUP BY 1),
         common AS (
      SELECT a.x AS part_a, b.x AS part_b, count(*) AS common_n
      FROM und a JOIN und b ON a.z = b.z AND a.x < b.x
      GROUP BY 1, 2)
    SELECT part_a, part_b, common_n,
           CAST(round(1000000.0 * common_n / (da.d + db.d - common_n))
                AS BIGINT) AS jacc_ppm
    FROM common
    JOIN deg da ON da.n = part_a
    JOIN deg db ON db.n = part_b
    ORDER BY jacc_ppm DESC, part_a, part_b
    LIMIT {_LP_TOP}
"""


@register("q191_link_prediction", _DUCK_LINKPRED)
def q191_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell &
    Kleinberg, CIKM'03): the top part pairs ranked by
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over the co-purchase graph — the
    'people you may know' / related-items primitive. Common-neighbor
    counts come from the wedge join keyed on the SHARED neighbor (the
    q173 generation shape), so candidates are sum-of-deg-squares,
    never all-pairs; the Jaccard denominator is inclusion-exclusion
    over two degree lookups. Ranking quantizes to ppm (one IEEE
    division of exact integers) with (a, b) tie-breaks, so the top-10
    cut is engine-identical even through ties.

    100 TB shape: wedge volume is bounded by Σ deg² — a hot hub is an
    AQE skew-split; beyond that the standard escape is neighborhood
    MinHash (q28's machinery applied to adjacency sets), which this
    exact-form query is the oracle for. Measured wall (SCALE.md r9/
    r10): 647s at 5x replication — the REGISTERED scale path is
    q191b_link_prediction_capped (top-K=32 wedge cap, 12.2s at the
    same 5x, machine-checked equal on cap-free graphs)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    e = a.join(b, "k").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    # explode symmetrization (one execution of the co-purchase self-
    # join, not two union branches) + checkpoint: `und` feeds the
    # degree census AND both wedge legs.
    und = materialize(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("z"), F.col("v").alias("x")),
                    F.struct(F.col("v").alias("z"), F.col("u").alias("x")),
                )
            ).alias("e")
        )
        .select("e.z", "e.x")
    )
    deg = und.groupBy(F.col("z").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    wa = und.select("z", F.col("x").alias("part_a"))
    wb = und.select(F.col("z").alias("z2"), F.col("x").alias("part_b"))
    common = (
        wa.join(wb, (F.col("z") == F.col("z2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    da = deg.select(F.col("n").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("part_b"), F.col("d").alias("db"))
    return (
        common.join(F.broadcast(da), "part_a")
        .join(F.broadcast(db), "part_b")
        .select(
            "part_a",
            "part_b",
            "common_n",
            F.round(
                1_000_000.0
                * F.col("common_n")
                / (F.col("da") + F.col("db") - F.col("common_n"))
            )
            .cast("bigint")
            .alias("jacc_ppm"),
        )
        .orderBy(F.col("jacc_ppm").desc(), "part_a", "part_b")
        .limit(_LP_TOP)
    )


_LP_CAP = 32

#: Shared CTE core for the capped link-prediction family: q191b's
#: oracle and q436's are both TEXTUALLY derived from this string (the
#: funnel-variant discipline — the pair cannot drift apart).
_DUCK_LP_CAPPED_CORE = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         ew AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
         und AS (SELECT u AS z, v AS x, w FROM ew
                 UNION ALL SELECT v, u, w FROM ew),
         deg AS (SELECT z AS n, count(*) AS d FROM und GROUP BY 1),
         capped AS (
      SELECT z, x FROM (
        SELECT z, x,
               row_number() OVER (PARTITION BY z ORDER BY w DESC, x) AS rn
        FROM und)
      WHERE rn <= {_LP_CAP}),
         common AS (
      SELECT a.x AS part_a, b.x AS part_b, count(*) AS common_n
      FROM capped a JOIN capped b ON a.z = b.z AND a.x < b.x
      GROUP BY 1, 2),
         scored AS (
      SELECT part_a, part_b, common_n,
             CAST(round(1000000.0 * common_n / (da.d + db.d - common_n))
                  AS BIGINT) AS jacc_ppm
      FROM common
      JOIN deg da ON da.n = part_a
      JOIN deg db ON db.n = part_b)
"""

_DUCK_LINKPRED_CAPPED = (
    _DUCK_LP_CAPPED_CORE
    + f"""
    SELECT part_a, part_b, common_n, jacc_ppm FROM scored
    ORDER BY jacc_ppm DESC, part_a, part_b
    LIMIT {_LP_TOP}
"""
)


@register("q191b_link_prediction_capped", _DUCK_LINKPRED_CAPPED)
def q191b_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q191 behind a DEGREE CAP — the production link-prediction scale
    cure (VERDICT r9 item 3). q191's wedge volume is Σ deg² over
    wedge-center nodes: exact, but quadratic in per-key replication
    (measured 647s at 5x, SCALE.md r9 — the one query family whose
    scale wall had no registered cure). The standard fix used by
    production systems (e.g. Twitter's RealGraph / GraphJet candidate
    generation) is to bound each node's ADJACENCY LIST to its top-K
    neighbors before wedge generation, making wedge volume ≤ |V|·K²
    regardless of skew.

    Semantics: wedges form only through each center z's top-K (K=32)
    neighbors by (co-purchase weight DESC, neighbor id) — a TOTAL
    order (the id is unique within z), so the cap is deterministic and
    engine-identical. Jaccard denominators keep the EXACT degrees
    (the cheap part — one keyed count), so only common_n is capped:
    scores are a lower bound that EQUALS q191 exactly whenever every
    degree ≤ K. That equality is machine-checked on a cap-free corpus
    (tests/test_graph_sql_ops.py::test_q191b_equals_q191_on_capfree_graph),
    the q27b/q151c funnel-variant discipline.

    100 TB shape: one weighted-edge aggregate (same shuffle as q191's
    distinct), one per-node top-K window (keyed exchange, no
    explosion), then the wedge join runs on lists of ≤ K — a hot hub
    contributes K² wedges instead of deg², so the 5x/10x sweep curve
    stays bounded (SCALE.md r10) where q191's blew the stall cap."""
    return (
        _capped_link_scores(spark, sf_dir)
        .orderBy(F.col("jacc_ppm").desc(), "part_a", "part_b")
        .limit(_LP_TOP)
    )


def _capped_link_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared degree-capped neighborhood-Jaccard pair scores (the
    Spark twin of _DUCK_LP_CAPPED_CORE): q191b takes the global
    top-10, q436 the per-node top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    # Weighted co-purchase edges: same shuffle as q191's DISTINCT,
    # carrying the multiplicity the cap's preference order needs.
    ew = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = materialize(
        ew.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("z"), F.col("v").alias("x"), F.col("w")
                    ),
                    F.struct(
                        F.col("v").alias("z"), F.col("u").alias("x"), F.col("w")
                    ),
                )
            ).alias("e")
        )
        .select("e.z", "e.x", "e.w")
    )
    deg = und.groupBy(F.col("z").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    rn = F.row_number().over(
        Window.partitionBy("z").orderBy(F.col("w").desc(), "x")
    )
    capped = (
        und.withColumn("rn", rn).filter(F.col("rn") <= _LP_CAP).select("z", "x")
    )
    wa = capped.select("z", F.col("x").alias("part_a"))
    wb = capped.select(F.col("z").alias("z2"), F.col("x").alias("part_b"))
    common = (
        wa.join(wb, (F.col("z") == F.col("z2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    da = deg.select(F.col("n").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("part_b"), F.col("d").alias("db"))
    return (
        common.join(F.broadcast(da), "part_a")
        .join(F.broadcast(db), "part_b")
        .select(
            "part_a",
            "part_b",
            "common_n",
            F.round(
                1_000_000.0
                * F.col("common_n")
                / (F.col("da") + F.col("db") - F.col("common_n"))
            )
            .cast("bigint")
            .alias("jacc_ppm"),
        )
    )


_LINK_TOPK = 3

_DUCK_LINK_TOPK = (
    _DUCK_LP_CAPPED_CORE
    + f"""
    , und2 AS (
      SELECT part_a AS node, part_b AS cand, common_n, jacc_ppm FROM scored
      UNION ALL
      SELECT part_b, part_a, common_n, jacc_ppm FROM scored),
      r AS (
      SELECT node, cand, common_n, jacc_ppm,
             row_number() OVER (PARTITION BY node
                                ORDER BY jacc_ppm DESC, cand) AS rank
      FROM und2)
    SELECT node, rank, cand, common_n, jacc_ppm FROM r
    WHERE rank <= {_LINK_TOPK}
    ORDER BY node, rank
"""
)


@register("q436_link_topk_per_node", _DUCK_LINK_TOPK)
def q436_link_topk_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node top-3 link predictions — the 'related items' /
    'people you may know' SERVING table, built from the q191b
    degree-capped pair scores (its oracle SQL is textually derived
    from the same CTE core, so the two queries cannot drift). The
    global top-10 (q191b) answers "strongest links anywhere"; serving
    needs the per-NODE ranking, which is a keyed window — no global
    sort at any size.

    100 TB shape: symmetrizing the pair table is an in-row explode
    (2x rows, no shuffle beyond the window's node-keyed exchange);
    the per-node top-k window is partitioned by node. Output is
    |V| x k — the bounded serving table a recommender materializes."""
    scored = _capped_link_scores(spark, sf_dir)
    und2 = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("node"),
                    F.col("part_b").alias("cand"),
                    F.col("common_n"),
                    F.col("jacc_ppm"),
                ),
                F.struct(
                    F.col("part_b").alias("node"),
                    F.col("part_a").alias("cand"),
                    F.col("common_n"),
                    F.col("jacc_ppm"),
                ),
            )
        ).alias("e")
    ).select("e.node", "e.cand", "e.common_n", "e.jacc_ppm")
    w = Window.partitionBy("node").orderBy(F.col("jacc_ppm").desc(), "cand")
    return (
        und2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LINK_TOPK)
        .select("node", "rank", "cand", "common_n", "jacc_ppm")
        .orderBy("node", "rank")
    )


_CF_TOP = 15


@register(
    "q228_item_cf_cosine",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         deg AS (
      SELECT l_partkey, count(*) AS d FROM items GROUP BY l_partkey),
         cooc AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT cooc.pa, cooc.pb,
           CAST(cooc.c AS BIGINT) AS cooc,
           CAST(round(1000000.0 * cooc.c / sqrt(da.d * db.d)) AS BIGINT)
             AS cosine_e6
    FROM cooc
    JOIN deg da ON da.l_partkey = cooc.pa
    JOIN deg db ON db.l_partkey = cooc.pb
    ORDER BY cosine_e6 DESC, pa, pb
    LIMIT {_CF_TOP}
    """,
)
def q228_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. WWW'01, the
    'customers who bought X also bought Y' backbone): q117's raw
    co-occurrence support normalized to BINARY COSINE
    c / sqrt(d_a·d_b), which deflates ubiquitous items that co-occur
    with everything — the reason production recommenders rank on
    similarity, not support. Cosine quantized to 1e-6 on exact
    integer (c, d_a, d_b): sqrt and one division on exact ints are
    engine-identical IEEE ops.

    Shape: co-occurrence fans out keyed on o_orderkey (quadratic in
    LINES PER ORDER — bounded — linear in orders); degree table is a
    second small aggregate joined back on the part key; top-k lands
    in TakeOrderedAndProject. At recommender scale the standard
    refinement is capping per-order item lists and hashing the pair
    space — both narrow changes on this exact plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    deg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("d"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    cooc = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("d").alias("db"))
    return (
        cooc.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.col("c").cast("bigint").alias("cooc"),
            F.round(1000000.0 * F.col("c") / F.sqrt(F.col("da") * F.col("db")))
            .cast("bigint")
            .alias("cosine_e6"),
        )
        .orderBy(F.desc("cosine_e6"), "pa", "pb")
        .limit(_CF_TOP)
    )


@register(
    "q255_degree_assortativity",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      GROUP BY node),
         ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM e0 JOIN deg du ON du.node = e0.u
              JOIN deg dv ON dv.node = e0.v),
         sym AS (
      SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends),
         s AS (
      SELECT count(*) AS m2,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM sym)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           CAST(round(1000000.0
             * (sxy / m2 - (sx / m2) * (sx / m2))
             / (sxx / m2 - (sx / m2) * (sx / m2))) AS BIGINT)
             AS assortativity_e6
    FROM s
    """,
)
def q255_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    degrees at the two ends of every edge in the co-purchase part
    graph — positive means hubs link to hubs (social-style), negative
    means hubs link to leaves (technological/star-style); the single
    number that says which epidemic/cascade regime a graph is in and
    whether degree-targeted interventions work. Each undirected edge
    contributes BOTH orientations (the standard symmetrization, which
    collapses Newman's two-sided formula to a plain Pearson over 2m
    end-pairs with equal marginals).

    Shape: edge list and degree table are q173's artifacts (order-
    keyed fan-out, bounded by lines-per-order); the statistic is one
    moment aggregate over edges with the degree table joined twice.
    Moments accumulate in DECIMAL(38,0) (q252's lesson — degree
    products overflow int64 on hub-heavy graphs), converting to
    double once for the closed form.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    # checkpoint: e0 feeds the degree census AND the end-pair join;
    # degree census + symmetrization via explode, not self-unions
    # (the q296 Union-recompute class — each branch re-ran the
    # co-purchase self-join).
    e0 = materialize(
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        e0.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ends = (
        e0.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    sym = ends.select(
        F.explode(
            F.array(
                F.struct(F.col("x"), F.col("y")),
                F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
            )
        ).alias("e")
    ).select("e.x", "e.y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = sym.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("m2")
    return s.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(
            1000000.0
            * (F.col("sxy") / F.col("m2") - mean * mean)
            / (F.col("sxx") / F.col("m2") - mean * mean)
        )
        .cast("bigint")
        .alias("assortativity_e6"),
    )


# --- q333: HITS hubs & authorities, two exact iterations (round 6) ---------
_HITS_TOP = 15

_DUCK_HITS = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         a1 AS (
      SELECT p, CAST(count(*) AS BIGINT) AS a FROM items GROUP BY p),
         h1 AS (
      SELECT items.o, CAST(sum(a1.a) AS BIGINT) AS h
      FROM items JOIN a1 USING (p) GROUP BY items.o),
         a2 AS (
      SELECT items.p, CAST(sum(h1.h) AS BIGINT) AS a2
      FROM items JOIN h1 USING (o) GROUP BY items.p),
         mx AS (SELECT max(a2) AS m FROM a2)
    SELECT a2.p AS l_partkey, a2.a2 AS authority_raw,
           CAST(round(1000000.0 * a2.a2 / mx.m) AS BIGINT) AS authority_ppm
    FROM a2 CROSS JOIN mx
    ORDER BY authority_raw DESC, l_partkey
    LIMIT {_HITS_TOP}
"""


@register("q333_hits_authority", _DUCK_HITS)
def q333_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) on the
    order-part bipartite graph, TWO exact mutual-reinforcement
    iterations from uniform hubs: a1 = indegree, h1 = sum of member
    authorities per order, a2 = sum of hub scores per part — the
    point where the ranking already separates 'parts bought in big,
    popular orders' from plain bestsellers (plain degree = a1; the
    divergence between a1's and a2's rankings IS the HITS signal).
    Stopping at a fixed iteration count keeps every score an exact
    INTEGER (no normalization drift), so the oracle is three joins —
    unlike PageRank (q116), whose damping forces floats.

    100 TB shape: each iteration is one keyed join + map-side-combined
    aggregate on the natural bipartite keys (the q173 edge pipeline);
    scores stay attached to keys, never materialized as a vector; the
    top-k is TakeOrderedAndProject. Iterating to convergence swaps
    the fixed unroll for the q116-style checkpointed loop."""
    li = load_table(spark, sf_dir, "lineitem")
    # checkpoint: the edge list feeds all three propagation joins
    items = materialize(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a1 = items.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (
        items.join(a1, "p")
        .groupBy("o")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = materialize(
        items.join(h1, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("bigint").alias("a2"))
        # feeds the max AND the output
    )
    mx = a2.agg(F.max("a2").alias("m"))
    return (
        a2.crossJoin(F.broadcast(mx))
        .select(
            F.col("p").alias("l_partkey"),
            F.col("a2").alias("authority_raw"),
            F.round(1000000.0 * F.col("a2") / F.col("m"))
            .cast("bigint")
            .alias("authority_ppm"),
        )
        .orderBy(F.desc("authority_raw"), "l_partkey")
        .limit(_HITS_TOP)
    )


# --- q354: one-step label spreading (round 6) ------------------------------
_LS_SEED_MOD = 7  # parts with partkey % 7 == 0 arrive labeled

_DUCK_LABEL_SPREAD = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2),
         seeds AS (
      SELECT DISTINCT l_partkey AS node, l_partkey % 3 AS label
      FROM lineitem WHERE l_partkey % {_LS_SEED_MOD} = 0),
         votes AS (
      SELECT e.u AS node, s.label, CAST(count(*) AS BIGINT) AS n_votes
      FROM e JOIN seeds s ON e.v = s.node
      WHERE e.u NOT IN (SELECT node FROM seeds)
      GROUP BY 1, 2),
         best AS (
      SELECT node, label, n_votes,
             row_number() OVER (PARTITION BY node
                                ORDER BY n_votes DESC, label) AS rk
      FROM votes)
    SELECT CAST(count(*) AS BIGINT) AS n_newly_labeled,
           CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_label0,
           CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_label1,
           CAST(sum(CASE WHEN label = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_label2,
           CAST(round(avg(n_votes) * 1000) AS BIGINT) AS avg_votes_milli
    FROM best WHERE rk = 1
"""


@register("q354_label_spreading", _DUCK_LABEL_SPREAD)
def q354_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of semi-supervised label spreading over the
    co-purchase graph (Zhu & Ghahramani 2002's label propagation, the
    majority-vote discrete form): a seed subset of parts arrives
    labeled (partkey mod {_LS_SEED_MOD}, label = key mod 3 standing
    in for a curated seed set), and every UNLABELED neighbor takes
    the majority label among its labeled neighbors (ties to the
    smaller label — the deterministic argmax the oracle mirrors with
    row_number). This is how a small curated taxonomy extends over a
    co-occurrence graph without a model; iterating feeds the new
    labels back as seeds — the q49/q116 loop structure, here
    deliberately ONE step so the oracle stays a fixed SQL text.

    100 TB shape: the vote join keys on the labeled endpoint (seed
    side semi-join-reduced first); votes aggregate map-side per
    (node, label); the argmax window partitions by node. Label count
    is bounded, so per-node state never exceeds |labels| cells."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    e = materialize(
        a.join(b, "k")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # the edge list feeds the vote join AND the
        # (implicit) seed-side anti-join
    )
    seeds = materialize(
        li.select(F.col("l_partkey").alias("node"))
        .distinct()
        .filter(F.col("node") % _LS_SEED_MOD == 0)
        .select("node", (F.col("node") % 3).alias("label"))
    )
    votes = (
        e.join(seeds.select(F.col("node").alias("v"), "label"), "v")
        .join(seeds.select(F.col("node").alias("u")), "u", "left_anti")
        .groupBy(F.col("u").alias("node"), "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    wbest = Window.partitionBy("node").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    best = votes.withColumn("rk", F.row_number().over(wbest)).filter(
        F.col("rk") == 1
    )
    return best.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_newly_labeled"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_label0"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_label1"),
        F.sum(F.when(F.col("label") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_label2"),
        quantise(F.avg("n_votes"), 3).alias("avg_votes_milli"),
    )


# --- q374: co-purchase graph modularity (round 6) ---------------------------
_DUCK_MODULARITY = """
    WITH op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2),
         comm AS (
      SELECT p_partkey AS pk,
             string_split(p_name, ' ')[2] AS c
      FROM part),
         m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM e),
         deg AS (
      SELECT pk, CAST(sum(w) AS BIGINT) AS k
      FROM (SELECT pa AS pk, w FROM e UNION ALL SELECT pb, w FROM e) d
      GROUP BY 1),
         intra AS (
      SELECT ca.c, CAST(sum(e.w) AS BIGINT) AS e_c
      FROM e JOIN comm ca ON ca.pk = e.pa
             JOIN comm cb ON cb.pk = e.pb
      WHERE ca.c = cb.c GROUP BY 1),
         dc AS (
      SELECT comm.c, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(coalesce(deg.k, 0)) AS BIGINT) AS d_c
      FROM comm LEFT JOIN deg ON deg.pk = comm.pk
      GROUP BY 1),
         rows_t AS (
      SELECT dc.c AS community, dc.n_nodes,
             coalesce(intra.e_c, 0) AS e_intra, dc.d_c, m.m,
             CAST(round(1000000.0 * (coalesce(intra.e_c, 0) * 1.0 / m.m
                  - (dc.d_c / (2.0 * m.m)) * (dc.d_c / (2.0 * m.m))))
                  AS BIGINT) AS q_contrib_e6
      FROM dc LEFT JOIN intra ON intra.c = dc.c CROSS JOIN m)
    SELECT community, n_nodes, e_intra, d_c,
           q_contrib_e6,
           CAST(sum(q_contrib_e6) OVER () AS BIGINT) AS q_total_e6
    FROM rows_t ORDER BY community
"""


@register("q374_copurchase_modularity", _DUCK_MODULARITY)
def q374_copurchase_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (Newman & Girvan, PRE 2004) of the
    product-category partition on the co-purchase graph: edges =
    distinct part pairs sharing an order (weight = co-order count),
    communities = the part-name noun. Q = SUM_c [e_c/m - (d_c/2m)^2]
    scores how much MORE intra-category co-purchasing happens than a
    degree-preserving random rewiring expects — the objective Louvain
    maximizes, here evaluated for a given labeling (the metric that
    turns q117's market-basket pairs into a category-coherence audit).

    Exactness: edge weights, degrees, and community sums are exact
    integers; per-community contributions quantize to micro before the
    window total.

    100 TB shape: pair generation is per-order and basket-bounded
    (<= (7 choose 2) pairs/order — linear in the fact table, the q117
    contract); one shuffle to the part-pair edge table, then all
    modularity terms are |parts|- or |communities|-bounded aggregates
    with the part->community map broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = op.select("ok", F.col("pk").alias("pa"))
    b = op.select(F.col("ok").alias("ok2"), F.col("pk").alias("pb"))
    e = materialize(
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    comm = materialize(part.select(
        F.col("p_partkey").alias("pk"),
        F.element_at(F.split(F.col("p_name"), " "), 2).alias("c"),
    ))
    m = e.agg(F.sum("w").cast("bigint").alias("m"))
    deg = (
        e.select(F.col("pa").alias("pk"), "w")
        .unionAll(e.select(F.col("pb").alias("pk"), "w"))
        .groupBy("pk")
        .agg(F.sum("w").cast("bigint").alias("k"))
    )
    intra = (
        e.join(F.broadcast(comm.withColumnRenamed("pk", "pka").withColumnRenamed("c", "ca")),
               F.col("pa") == F.col("pka"))
        .join(F.broadcast(comm.withColumnRenamed("pk", "pkb").withColumnRenamed("c", "cb")),
              F.col("pb") == F.col("pkb"))
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.sum("w").cast("bigint").alias("e_c"))
    )
    dc = (
        comm.join(deg, "pk", "left")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("bigint").alias("d_c"),
        )
    )
    rows_t = (
        dc.join(intra, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_intra"),
            "d_c",
            quantise(
                F.coalesce(F.col("e_c"), F.lit(0)) * 1.0 / F.col("m")
                - (F.col("d_c") / (2.0 * F.col("m")))
                * (F.col("d_c") / (2.0 * F.col("m"))),
                6,
            )
            .alias("q_contrib_e6"),
        )
    )
    w = Window.partitionBy()
    return rows_t.select(
        "community",
        "n_nodes",
        "e_intra",
        "d_c",
        "q_contrib_e6",
        F.sum("q_contrib_e6").over(w).cast("bigint").alias("q_total_e6"),
    ).orderBy("community")
