"""Graph queries: PageRank, components, centrality, communities, sampling.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



def _pagerank_oracle() -> str:
    from pydala2_spark.operators.graph import pagerank_oracle_sql

    edges = (
        "SELECT src, dst, count(*) AS w FROM ("
        "SELECT event_type AS src, "
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst "
        "FROM events) WHERE dst IS NOT NULL GROUP BY src, dst"
    )
    return pagerank_oracle_sql(edges, damping=0.85, iterations=3)



@query("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted PageRank (3 fixed iterations, damping 0.85, dangling
    # redistribution) over the user-journey transition graph — the
    # iterative-algorithm primitive next to dedup's pointer-doubling
    # CC. The oracle unrolls the identical decimal-accumulated
    # arithmetic. See operators/graph.pagerank for the 100 TB notes
    # (the heavy step is the one window shuffle building edges; the
    # |vocabulary|-sized edge frame is fetched once and the rank loop
    # runs on the driver).
    from pydala2_spark.operators.graph import pagerank, transition_edges

    return pagerank(
        transition_edges(_t(spark, sf_dir, "events")), damping=0.85, iterations=3
    )



@query(
    "graph_triangles",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem WHERE l_quantity >= 35),
    e AS (
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    ), deg AS (
      SELECT n, count(*) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY n
    ), o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v
      FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
    ), ov AS (SELECT o.u, o.v, deg.d AS dv FROM o JOIN deg ON o.v = deg.n),
    tri AS (
      SELECT w1.u AS x, w1.v AS y, w2.v AS z
      FROM ov w1
      JOIN ov w2 ON w1.u = w2.u
        AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
      JOIN o ON o.u = w1.v AND o.v = w2.v
    ), nodes AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS partkey, count(*) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts over the co-purchase graph (parts
    linked when they share an order): the clustering/cohesion
    primitive next to pagerank's centrality. Edge derivation is a
    per-order self-join (bounded blow-up — TPC-H orders cap at 7
    lines); enumeration is degree-oriented so each triangle is found
    exactly once and the wedge join's out-degree is capped at
    O(sqrt(m)) — the shape that survives power-law co-purchase hubs.
    The oracle mirrors the orientation and wedge order integer-exact.
    See operators/graph.triangle_counts."""
    from pydala2_spark.operators.graph import triangle_counts

    # the bulk-quantity slice: a 2M-edge full co-purchase graph at
    # sf0.1 is ~dense (avg degree ~190) and triangle COUNT explodes
    # combinatorially — the realistic analysis restricts to the
    # bulk-order signal, and the filter pushes to the parquet scan
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 35)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    return triangle_counts(edges).select(
        F.col("node").alias("partkey"), "n_triangles"
    )



def _kcore_oracle() -> str:
    from pydala2_spark.operators.graph import kcore_oracle_sql

    edge_cte = """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_quantity >= 45)
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    """
    inner = kcore_oracle_sql(edge_cte, k=3, max_iter=12)
    return (
        f"SELECT node AS partkey, core_degree FROM ({inner})"
    )



@query("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the bulk co-purchase graph — iterative peeling
    (Matula-Beck), the third canonical iterative graph primitive next
    to pagerank (centrality) and triangles (local cohesion): nodes
    survive only if they keep >= 3 within-core neighbors AFTER weaker
    nodes are removed, which a one-shot degree filter cannot compute
    (peeling cascades — this slice takes 5 rounds at sf0.01). The
    oracle unrolls the identical peel 12 rounds; converged rounds are
    no-ops so both sides land on the same fixpoint, integer-exact.

    100 TB shape: per round one map-side-combined degree count + two
    node-keyed semi-joins over an edge frame that only shrinks, with
    lineage truncated per round. Peel depth is the graph's degeneracy
    ladder, not its diameter — small for real graphs.
    See operators/graph.kcore."""
    from pydala2_spark.operators.graph import kcore

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return kcore(edges, k=3, max_iter=12).select(
        F.col("node").alias("partkey"), "core_degree"
    )



@query(
    "graph_common_neighbors",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem WHERE l_quantity >= 45),
    e AS (
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    ), adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), deg AS (
      SELECT u AS n_, count(*) AS d FROM adj GROUP BY u
    ), am AS (
      SELECT adj.u AS m, adj.v AS a, deg.d AS dm
      FROM adj JOIN deg ON adj.u = deg.n_
    ), w AS (
      SELECT x.a AS a, y.a AS b, x.m, x.dm
      FROM am x JOIN am y ON x.m = y.m AND x.dm = y.dm AND x.a < y.a
    ), cand AS (
      SELECT w.a, w.b, w.dm FROM w
      LEFT JOIN e ON w.a = e.a AND w.b = e.b
      WHERE e.a IS NULL
    ), sc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(CAST(round(1.0 / ln(CAST(dm AS DOUBLE)), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS aa
      FROM cand GROUP BY a, b
    )
    SELECT sc.a AS part_a, sc.b AS part_b, sc.cn,
           round(CAST(sc.cn AS DOUBLE)
                 / CAST(da.d + db.d - sc.cn AS DOUBLE), 6) AS jaccard,
           round(sc.aa, 4) AS adamic_adar
    FROM sc JOIN deg da ON sc.a = da.n_ JOIN deg db ON sc.b = db.n_
    ORDER BY sc.cn DESC, sc.a, sc.b LIMIT 50
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the bulk co-purchase graph
    (Liben-Nowell & Kleinberg): for the top 50 NON-adjacent part
    pairs by shared neighbors — which products will be co-purchased
    next — common-neighbor count, neighbor Jaccard, and Adamic-Adar
    (rare shared neighbors weigh more; each 1/ln(deg) contribution
    rounds to 12 decimals and accumulates in exact decimal, the
    pagerank discipline, so the oracle reproduces every score).

    100 TB shape: one wedge self-join keyed on the middle node (the
    triangle-counting shape; max_middle_degree caps hub middles at
    scale), degrees broadcast, pair anti-join key-shuffled.
    See operators/graph.link_prediction_scores."""
    from pydala2_spark.operators.graph import link_prediction_scores

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return (
        link_prediction_scores(edges)
        .orderBy(F.desc("cn"), "a", "b")
        .limit(50)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "cn",
            "jaccard",
            "adamic_adar",
        )
    )



def _bfs_oracle() -> str:
    from pydala2_spark.operators.graph import bfs_oracle_sql

    edge_cte = """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_quantity >= 35)
      SELECT DISTINCT x.p AS src, y.p AS dst
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    """
    seed_cte = "SELECT p_partkey AS node FROM part WHERE p_size = 50"
    return bfs_oracle_sql(edge_cte, seed_cte, max_hops=3, node_alias="partkey")



@query("graph_bfs_distances", _bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: minimum hop
    distance (<= 3) from the size-50 part list — the blast-radius /
    recall-expansion primitive (contaminated-lot tracing, related-item
    widening). Frontier BFS: each round expands only newly-settled
    nodes via one equi-join + anti-join, frames materialized so
    reuse never re-runs the edge derivation; the oracle unrolls the
    same min-fold integer-exact. See operators/graph.bfs_distances."""
    from pydala2_spark.operators.graph import bfs_distances

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 35)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_distances(edges, seeds, max_hops=3).select(
        F.col("node").alias("partkey"), "dist"
    )



def _lpa_oracle() -> str:
    from pydala2_spark.operators.graph import label_propagation_oracle_sql

    edge_cte = """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_quantity >= 45)
      SELECT DISTINCT x.p AS src, y.p AS dst
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    """
    return label_propagation_oracle_sql(edge_cte, rounds=4)



@query("graph_label_prop", _lpa_oracle())
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    sparse co-purchase slice — the clustering primitive next to
    pagerank's centrality and k-core's cohesion. Synchronous rounds +
    (count DESC, label ASC) tie-break make LPA (famously run-to-run
    unstable in its async/random form) exactly reproducible. The edge
    frame is checkpointed once; below the driver edge budget (every
    registry scale) it is fetched once and the rounds run on the
    driver, bit-identical to the distributed loop.
    See operators/graph.label_propagation."""
    from pydala2_spark.operators.graph import label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        # dedupe multi-order pairs: LPA counts labels by edge
        # MULTIPLICITY, so the simple-graph semantics need one row per
        # pair (the oracle's SELECT DISTINCT)
        .distinct()
    )
    return label_propagation(edges, rounds=4)



_CLUSTERING_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem WHERE l_quantity >= 35),
    e AS (
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    ), deg AS (
      SELECT n, count(*) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY n
    ), o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v
      FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
    ), ov AS (SELECT o.u, o.v, deg.d AS dv FROM o JOIN deg ON o.v = deg.n),
    tri AS (
      SELECT w1.u AS x, w1.v AS y, w2.v AS z
      FROM ov w1
      JOIN ov w2 ON w1.u = w2.u
        AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
      JOIN o ON o.u = w1.v AND o.v = w2.v
    ), tcnt AS (
      SELECT node, count(*) AS t FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    ), per_node AS (
      SELECT deg.n, deg.d, coalesce(tcnt.t, 0) AS t
      FROM deg LEFT JOIN tcnt ON deg.n = tcnt.node
      WHERE deg.d >= 2
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(t) AS BIGINT) AS sum_t,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS wedges,
             CAST(sum(CAST(round(CAST(t AS DOUBLE)
                   / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0) / 2.0),
                   12) AS DECIMAL(38,12))) AS DOUBLE) AS sum_c
      FROM per_node
    )
    SELECT n_nodes, CAST(sum_t / 3 AS BIGINT) AS n_triangles, wedges,
           round(CAST(sum_t AS DOUBLE) / CAST(nullif(wedges, 0) AS DOUBLE), 6)
             AS global_coeff,
           round(sum_c / CAST(nullif(n_nodes, 0) AS DOUBLE), 6)
             AS avg_local_coeff
    FROM agg
    """



@query("graph_clustering_coeff", _CLUSTERING_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global and average-local clustering coefficients of the
    co-purchase graph — the transitivity summary on top of
    graph_triangles' per-node counts (same degree-oriented
    enumeration, same slice): global C = 3T / wedges from exact
    integer sums; local c_v terms round-12 + DECIMAL(38,12) for the
    mean over degree >= 2 nodes. The degree table and triangle counts
    are the SAME checkpointed frames from one enumeration pass (shared
    via operators/graph.clustering_coefficients), so the global and
    local legs add one left join and one single-row aggregate — not a
    second pass. See operators/graph.clustering_coefficients."""
    from pydala2_spark.operators.graph import clustering_coefficients

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 35)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    return clustering_coefficients(edges)



def _ppr_oracle() -> str:
    from pydala2_spark.operators.graph import ppr_oracle_sql

    edge_cte = """
      SELECT src, dst, w FROM (
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem WHERE l_quantity >= 45),
        u AS (SELECT x.p AS s, y.p AS d, count(*) AS w
              FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
              GROUP BY 1, 2)
        SELECT s AS src, d AS dst, w FROM u
        UNION ALL SELECT d AS src, s AS dst, w FROM u
      )
    """
    seeds = """
      SELECT DISTINCT l_partkey AS node FROM lineitem
      WHERE l_quantity >= 45 AND l_partkey % 97 = 0
    """
    return ppr_oracle_sql(edge_cte, seeds, iterations=3)



@query("graph_ppr", _ppr_oracle())
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed part-list over the weighted
    co-purchase graph — the graph-retrieval primitive (scores = the
    neighborhood that matters TO THE SEEDS) beside the global
    centrality of graph_pagerank. Teleport and dangling mass both
    concentrate on seeds; same round-12/decimal iteration contract,
    oracle unrolled with the seed-conditional base term.
    See operators/graph.personalized_pagerank."""
    from pydala2_spark.operators.graph import personalized_pagerank

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    u = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .groupBy(F.col("x.p").alias("s"), F.col("y.p").alias("d"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = u.select(
        F.col("s").alias("src"), F.col("d").alias("dst"), "w"
    ).unionAll(
        u.select(F.col("d").alias("src"), F.col("s").alias("dst"), "w")
    )
    # personalized_pagerank deduplicates the seeds itself
    seeds = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 45) & (F.col("l_partkey") % 97 == 0))
        .select(F.col("l_partkey").alias("node"))
    )
    return personalized_pagerank(edges, seeds, iterations=3)



def _assort_oracle() -> str:
    from pydala2_spark.operators.graph import assortativity_oracle_sql

    edge_cte = """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_quantity >= 45)
      SELECT DISTINCT x.p AS src, y.p AS dst
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    """
    return assortativity_oracle_sql(edge_cte)



@query("graph_assortativity", _assort_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the structural
    fingerprint (hub-hub vs hub-leaf mixing) beside triangles/k-core/
    communities. Symmetrized-moment identity avoids materializing the
    doubled edge list; every sum is an exact DECIMAL(38,0) integer.
    See operators/graph.degree_assortativity."""
    from pydala2_spark.operators.graph import degree_assortativity

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return degree_assortativity(edges)



def _modularity_oracle() -> str:
    from pydala2_spark.operators.graph import modularity_oracle_sql

    edge_cte = """
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem WHERE l_quantity >= 45)
      SELECT DISTINCT x.p AS src, y.p AS dst
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    """
    return modularity_oracle_sql(edge_cte, rounds=4)



@query("graph_modularity", _modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition over the
    co-purchase slice — the partition-quality metric that closes the
    community-detection loop (graph_label_prop finds it, this grades
    it). Per-community contribution is pure integer-count arithmetic
    (e_c/m - (d_c/2m)^2), so no decimal-rounding machinery is needed;
    Q = sum(contrib). See operators/graph.modularity_report."""
    from pydala2_spark.operators.graph import (
        label_propagation,
        modularity_report,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # two consumers: the community detection and the report
    edges = materialize(
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct(),
        "graph_modularity: edges",
    )
    return modularity_report(edges, label_propagation(edges, rounds=4))



def _hits_oracle() -> str:
    from pydala2_spark.operators.graph import hits_oracle_sql

    return hits_oracle_sql(
        """SELECT o_custkey AS hub, l_partkey AS auth
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_quantity >= 47""",
        iterations=4,
    )



@query("graph_hits", _hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the bipartite customer-part
    purchase graph (bulk-quantity slice) — mutual-reinforcement
    centrality next to pagerank's random walk: authoritative parts
    are bought by discerning customers and vice versa. Four L1-
    normalized iterations with the pagerank determinism ladder
    (round-12 scores, DECIMAL(38,12) contribution sums). The edge
    frame is checkpointed once; below the driver edge budget (every
    registry scale) it is fetched once and the iterations run on the
    driver, bit-identical to the distributed loop.
    See operators/graph.hits."""
    from pydala2_spark.operators.graph import hits

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 47)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    ords = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("o"), F.col("o_custkey").alias("c")
    )
    edges = li.join(ords, "o").select(
        F.col("c").alias("hub"), F.col("p").alias("auth")
    )
    return hits(edges, iterations=4)



def _neg_samples_oracle() -> str:
    from pydala2_spark.operators.graph import negative_samples_oracle_sql

    return negative_samples_oracle_sql(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 45)
           SELECT x.p AS src, y.p AS dst
           FROM li x JOIN li y ON x.o = y.o AND x.p < y.p"""
    )



@query("graph_negative_samples", _neg_samples_oracle())
def graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupt-the-tail negative sampling for link-
    prediction training data over the co-purchase graph, summarized by
    the common-neighbor feature per label — the graph-side
    contrastive-pairs generator (emb_hard_negatives' counterpart):
    positives should separate from filtered negatives on cn, and this
    query MEASURES that separation. No RNG (successor-in-id-order
    corruption), no candidate cross join (rank equi-join), negatives
    filtered against real edges by one anti-join.
    See operators/graph.negative_edge_samples."""
    from pydala2_spark.operators.graph import negative_edge_samples

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    return negative_edge_samples(edges)



def _powerlaw_oracle() -> str:
    from pydala2_spark.operators.graph import degree_powerlaw_oracle_sql

    return degree_powerlaw_oracle_sql(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 40)
           SELECT x.p AS src, y.p AS dst
           FROM li x JOIN li y ON x.o = y.o AND x.p < y.p"""
    )



@query("graph_degree_powerlaw", _powerlaw_oracle())
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution summary with the Clauset-Shalizi-Newman
    power-law tail exponent over the co-purchase graph — the
    one-number "is this graph scale-free and how heavy is the hub
    tail" diagnostic that decides whether hub-capping / salting is
    needed before quadratic graph ops run. One degree groupBy, one
    single-row aggregate, round-12 decimal ln ladder.
    See operators/graph.degree_powerlaw."""
    from pydala2_spark.operators.graph import degree_powerlaw

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    return degree_powerlaw(edges)



@query(
    "graph_component_sizes",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem WHERE l_quantity >= 48
    ), pe AS (
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
    ), edges AS (
      SELECT a AS src, b AS dst FROM pe UNION SELECT b, a FROM pe
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ), cc AS (
      SELECT node, min(label) AS cid FROM reach GROUP BY node
    ), sizes AS (
      SELECT cid, count(*) AS sz FROM cc GROUP BY cid
    )
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(sz * count(*) AS BIGINT) AS n_nodes
    FROM sizes GROUP BY sz
    """,
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the bulk co-purchase
    graph — the fragmentation readout (one giant component vs many
    islands) that decides whether per-component graph work can
    partition cleanly, and the graph-side surface of the SAME CC
    engine the dedup family uses (operators/dedup.duplicate_clusters:
    driver union-find under a measured edge budget, distributed
    min-label pointer-doubling above it). Components of size 1
    (edgeless nodes) are out of frame by construction — documented.
    Oracle: recursive min-reachable-id CTE, the dedup_clusters
    pattern."""
    from pydala2_spark.operators.dedup import duplicate_clusters

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("id_a"), F.col("y.p").alias("id_b"))
        .distinct()
    )
    cl = duplicate_clusters(pairs)
    return (
        cl.groupBy("cluster_id", "cluster_size")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy(F.col("cluster_size").alias("component_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("cluster_size").cast("long").alias("n_nodes"),
        )
        .select(
            F.col("component_size").cast("long").alias("component_size"),
            "n_components",
            "n_nodes",
        )
    )



_RICHCLUB_EDGES = """
      SELECT DISTINCT x.p AS a, y.p AS b
      FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_quantity >= 40) x
      JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_quantity >= 40) y
        ON x.o = y.o AND x.p < y.p
"""


def _rich_club_oracle() -> str:
    from pydala2_spark.operators.graph import rich_club_oracle_sql

    return rich_club_oracle_sql(_RICHCLUB_EDGES)


@query("graph_rich_club", _rich_club_oracle())
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club density profile of the co-purchase graph — do the
    high-degree parts co-occur with EACH OTHER? The hub-structure
    readout behind graph_assortativity's single correlation: a rising
    phi(k) marks a clique-ish core (one hot shuffle partition, one
    failure domain at cluster scale). One degree pass + one
    conditional aggregate over the literal threshold set.
    See operators/graph.rich_club."""
    from pydala2_spark.operators.graph import rich_club

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return rich_club(edges)
