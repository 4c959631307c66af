"""Statistical aggregates: sketches, correlation, hypothesis tests, quantiles, uncertainty.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _dsum,
    _osum,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



@query(
    "agg_rollup_status_priority",
    f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           {_osum("o_totalprice")} AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP = grouping-sets expansion before the shuffle (built-in).
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum("o_totalprice").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )



@query(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(DISTINCT l_suppkey) AS exact_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact distincts for the oracle; approx_count_distinct is the
    # 100 TB path (single-pass HLL, no per-key shuffle) — exposed in
    # functions/, benched separately.
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_suppkey").alias("exact_supps"),
        )
    )



@query(
    "agg_cube_flag_status",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "qty",
        )
    )



@query(
    "agg_grouping_sets",
    f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           {_osum("o_totalprice")} AS tot
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit GROUPING SETS (beyond ROLLUP/CUBE): per-status totals,
    # per-priority totals, and the grand total in ONE scan — Spark
    # expands to a single Expand + hash-agg, not three scans + union.
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"), _dsum("o_totalprice").alias("tot"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "tot",
        )
    )



def _hll_oracle() -> str:
    from pydala2_spark.functions.sketch import hll_oracle_sql

    return hll_oracle_sql("orders", "o_orderpriority", "o_custkey", p=7)



@query("agg_hll_sketch", _hll_oracle())
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # From-scratch HyperLogLog (p=7, md5-derived registers, decimal
    # harmonic sum) — distinct customers per order priority, estimate
    # AND exact side-by-side. The oracle reproduces every register
    # bit-for-bit. See functions/sketch.hll_count_distinct for the
    # 100 TB notes (registers merge associatively; raw values never
    # leave the first map-side combine).
    from pydala2_spark.functions.sketch import hll_count_distinct

    return hll_count_distinct(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey", p=7
    )



def _cms_oracle() -> str:
    from pydala2_spark.functions.sketch import cms_oracle_sql

    items = (
        "SELECT user_id FROM events GROUP BY user_id "
        "ORDER BY count(*) DESC, user_id LIMIT 10"
    )
    est = cms_oracle_sql("events", "user_id", items, depth=3, width=512)
    return f"""
    WITH est AS ({est}),
    ex AS (
      SELECT user_id, count(*) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10
    )
    SELECT ex.user_id, ex.exact_n, est.cms_estimate
    FROM ex JOIN est USING (user_id)
    """



@query("agg_cms_heavy_hitters", _cms_oracle())
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-Min sketch (3 md5-salted rows x 512 buckets) probed at the
    # 10 heaviest users — estimate (>= truth by construction) next to
    # the exact count. The counter table is O(d*w) regardless of
    # corpus size and broadcasts for the probe join; the event
    # projection materializes once for both the sketch and the exact
    # top-10. See functions/sketch.cms_build for the 100 TB notes.
    from pydala2_spark.functions.sketch import cms_build, cms_estimate

    ev = materialize(_t(spark, sf_dir, "events").select("user_id"))
    counters = cms_build(ev, "user_id", depth=3, width=512)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    est = cms_estimate(counters, top.select("user_id"), "user_id", width=512)
    return top.join(est, "user_id").select("user_id", "exact_n", "cms_estimate")



@query(
    "agg_kmv_set_ops",
    """
    WITH hs AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type IN ('click', 'purchase')
    ), a AS (SELECT h FROM hs WHERE event_type = 'click'),
    b AS (SELECT h FROM hs WHERE event_type = 'purchase'),
    u AS (SELECT DISTINCT h FROM hs),
    ka AS (SELECT max(h) AS hk FROM (SELECT h FROM a ORDER BY h LIMIT 64)),
    kb AS (SELECT max(h) AS hk FROM (SELECT h FROM b ORDER BY h LIMIT 64)),
    ku AS (SELECT max(h) AS hk FROM (SELECT h FROM u ORDER BY h LIMIT 64)),
    uk AS (SELECT h FROM u ORDER BY h LIMIT 64),
    na AS (SELECT count(*) AS nd FROM a),
    nb AS (SELECT count(*) AS nd FROM b),
    nu AS (SELECT count(*) AS nd FROM u),
    mm AS (SELECT count(*) AS m FROM uk JOIN a USING (h) JOIN b USING (h)),
    ix AS (SELECT count(*) AS inter_exact FROM a JOIN b USING (h))
    SELECT na.nd AS click_exact,
           CASE WHEN na.nd <= 64 THEN CAST(na.nd AS DOUBLE)
                ELSE round(63.0 * 1152921504606846976 / ka.hk, 2)
           END AS click_est,
           nb.nd AS purchase_exact,
           CASE WHEN nb.nd <= 64 THEN CAST(nb.nd AS DOUBLE)
                ELSE round(63.0 * 1152921504606846976 / kb.hk, 2)
           END AS purchase_est,
           nu.nd AS union_exact,
           CASE WHEN nu.nd <= 64 THEN CAST(nu.nd AS DOUBLE)
                ELSE round(63.0 * 1152921504606846976 / ku.hk, 2)
           END AS union_est,
           ix.inter_exact,
           round(CAST(mm.m AS DOUBLE) / least(64, nu.nd)
                 * (CASE WHEN nu.nd <= 64 THEN CAST(nu.nd AS DOUBLE)
                         ELSE round(63.0 * 1152921504606846976 / ku.hk, 2) END),
                 2) AS inter_est
    FROM na, nb, nu, ka, kb, ku, mm, ix
    """,
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch with SET-OPERATION estimates — the
    cardinality question HLL registers cannot answer: distinct
    clickers, distinct purchasers, their UNION, and their INTERSECTION
    (via Jaccard over the union sketch), each next to its exact value.
    The sketch is 64 longs per set and merges by union + re-bottom-k,
    so day-over-day overlap questions answer from stored states
    without re-reading either day.

    100 TB shape: ONE map-side-combined distinct of (set, hash), then
    every bottom-k is Spark's TakeOrderedAndProject — each partition
    forwards at most k rows, no global-ordering window skew — over the
    once-materialized hash frame. Estimates are integer inputs + one
    IEEE division each, so the DuckDB oracle lands bit-for-bit.
    See functions/sketch.kmv_bottom_k.
    """
    from pydala2_spark.functions.sketch import (
        hash60,
        kmv_bottom_k,
        kmv_estimate_expr,
    )

    K = 64
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    hs = materialize(
        ev.select("event_type", hash60(F.col("user_id")).alias("h")).distinct()
    )
    a = hs.filter(F.col("event_type") == "click").select("h")
    b = hs.filter(F.col("event_type") == "purchase").select("h")
    u = hs.select("h").distinct()

    def summary(df, tag):
        kth = kmv_bottom_k(df, K).agg(F.max("h").alias(f"hk_{tag}"))
        return kth.crossJoin(df.agg(F.count(F.lit(1)).alias(f"nd_{tag}")))

    uk = kmv_bottom_k(u, K)
    m = uk.join(a, "h").join(b, "h").agg(F.count(F.lit(1)).alias("m"))
    ix = a.join(b, "h").agg(F.count(F.lit(1)).alias("inter_exact"))
    row = (
        summary(a, "a")
        .crossJoin(summary(b, "b"))
        .crossJoin(summary(u, "u"))
        .crossJoin(m)
        .crossJoin(ix)
    )
    union_est = kmv_estimate_expr("nd_u", "hk_u", K)
    return row.select(
        F.col("nd_a").alias("click_exact"),
        kmv_estimate_expr("nd_a", "hk_a", K).alias("click_est"),
        F.col("nd_b").alias("purchase_exact"),
        kmv_estimate_expr("nd_b", "hk_b", K).alias("purchase_est"),
        F.col("nd_u").alias("union_exact"),
        union_est.alias("union_est"),
        F.col("inter_exact"),
        F.round(
            F.col("m").cast("double")
            / F.least(F.lit(K).cast("long"), F.col("nd_u"))
            * union_est,
            2,
        ).alias("inter_est"),
    )



def _quantile_sketch_oracle() -> str:
    from pydala2_spark.functions.sketch import sample_quantile_oracle_sql

    est = sample_quantile_oracle_sql(
        "events",
        "event_type",
        "event_id",
        "value",
        k=128,
        qs={"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99},
    )
    return f"""
    WITH est AS ({est}),
    fq AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), exact AS (
      SELECT event_type, max(n) AS n_rows,
             max(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
                      THEN value END) AS p50_exact,
             max(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
                      THEN value END) AS p90_exact,
             max(CASE WHEN rn = CAST(floor((n - 1) * 0.99) AS BIGINT) + 1
                      THEN value END) AS p99_exact
      FROM fq GROUP BY event_type
    )
    SELECT est.event_type, exact.n_rows, est.sample_n,
           est.p50_est, exact.p50_exact,
           est.p90_est, exact.p90_exact,
           est.p99_est, exact.p99_exact
    FROM est JOIN exact USING (event_type)
    """



@query("agg_quantile_sketch", _quantile_sketch_oracle())
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch — the distribution-shaped sibling of
    the KMV cardinality sketch: hashing the unique row id uniformly
    permutes each group's rows, so the k=128 smallest-hash rows are a
    uniform sample, and discrete quantiles read straight off the sorted
    sample next to their exact full-group values. Unlike reservoir
    sampling the state is a pure function of the row SET
    (order-independent), so slice states merge by union + re-bottom-k
    and a streaming maintenance lands on the batch sketch bit-for-bit
    (pinned by pytest; see stream_kmv_quantiles).

    100 TB shape: the sketch side is the salted two-stage bottom-k —
    no window ever sees more than max(group/salt, salt*k) rows — then
    quantile extraction over ≤128 rows per group. The exact columns
    (full-group window sort) are the verification baseline; production
    drops them — that is the point of the sketch. Emitted quantiles are
    bit-copies of input values (discrete, no interpolation), so the
    oracle hash-matches without rounding.
    See functions/sketch.sample_bottom_k_grouped."""
    from pydala2_spark.functions.sketch import (
        discrete_quantiles,
        sample_bottom_k_grouped,
    )

    QS = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    ev = _t(spark, sf_dir, "events")
    state = sample_bottom_k_grouped(ev, "event_type", "event_id", "value", k=128)
    est = discrete_quantiles(
        state,
        "event_type",
        "__val",
        "__key",
        {f"{n}_est": q for n, q in QS.items()},
        n_alias="sample_n",
    )
    exact = discrete_quantiles(
        ev.select("event_type", "event_id", "value"),
        "event_type",
        "value",
        "event_id",
        {f"{n}_exact": q for n, q in QS.items()},
        n_alias="n_rows",
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_rows",
        "sample_n",
        "p50_est",
        "p50_exact",
        "p90_est",
        "p90_exact",
        "p99_est",
        "p99_exact",
    )



@query(
    "agg_cms_join_size",
    """
    WITH rows_ AS (SELECT unnest(range(3)) AS row_id),
    ca AS (
      SELECT row_id,
             ('0x' || substr(md5('cms' || CAST(row_id AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM events CROSS JOIN rows_
      WHERE event_type = 'click' AND user_id IS NOT NULL
      GROUP BY 1, 2
    ), cb AS (
      SELECT row_id,
             ('0x' || substr(md5('cms' || CAST(row_id AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM events CROSS JOIN rows_
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY 1, 2
    ), ip AS (
      SELECT ca.row_id, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ipr
      FROM ca JOIN cb USING (row_id, bucket)
      GROUP BY ca.row_id
    ), est AS (SELECT CAST(min(ipr) AS BIGINT) AS est_pairs FROM ip),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_pairs
      FROM (SELECT user_id FROM events
            WHERE event_type = 'click' AND user_id IS NOT NULL) a
      JOIN (SELECT user_id FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL) b
        USING (user_id)
    )
    SELECT ex.exact_pairs, est.est_pairs,
           round(CAST(est.est_pairs AS DOUBLE)
                 / CAST(ex.exact_pairs AS DOUBLE), 4) AS over_ratio
    FROM ex, est
    """,
)
def agg_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from sketches alone — the AMS/Count-Min
    inner-product estimator (sum over buckets of A[r,b]*B[r,b], min
    over hash rows): how many click-purchase pairs join on user_id,
    answered from two O(d*w) counter states WITHOUT scanning either
    side. This is the planner question (broadcast or shuffle? expect
    skew?) and the day-over-day question (states merge by addition),
    shown next to the exact join count and the guaranteed->=1
    over-ratio. Integer-only, so the oracle is bit-exact.

    100 TB shape: each sketch is one map-side-combined pass (the scan
    you already paid for stats); the product join is sketch-sized —
    the estimate costs nothing at query time.
    See functions/sketch.cms_inner_product."""
    from pydala2_spark.functions.sketch import cms_build, cms_inner_product

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = cms_inner_product(
        cms_build(a, "user_id", depth=3, width=512),
        cms_build(b, "user_id", depth=3, width=512),
    ).select(F.col("inner_product_est").alias("est_pairs"))
    exact = a.join(b, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_pairs")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_pairs",
        "est_pairs",
        F.round(
            F.col("est_pairs").cast("double")
            / F.col("exact_pairs").cast("double"),
            4,
        ).alias("over_ratio"),
    )



_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]



def _corr_matrix_oracle() -> str:
    from pydala2_spark.functions.dq import corr_matrix_oracle_sql

    return corr_matrix_oracle_sql(
        "SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem",
        _CORR_COLS,
    )



@query("agg_corr_matrix", _corr_matrix_oracle())
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric measures,
    unpivoted to one row per pair — the feature-redundancy screen.
    ONE map-side-combined scan computes all C(4,2)+8+1 sufficient
    statistics (decimal-accumulated, the ev_value_trend discipline);
    the pair explode runs on the single reduced row. At 100 TB:
    one pass, one one-row shuffle, no joins. The test corpus packs
    each table into ONE parquet row group, so the CPU-heavy decimal
    partials would serialize onto one core — min_tasks fans the pruned
    4-double frame out first (exact decimal sums are exchange-
    invariant; a real multi-split corpus would skip this).
    See functions/dq.corr_matrix."""
    from pydala2_spark.functions.dq import corr_matrix

    return corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        _CORR_COLS,
        min_tasks=spark.sparkContext.defaultParallelism,
    )



def _anova_oracle() -> str:
    from pydala2_spark.operators.events import anova_oracle_sql

    return anova_oracle_sql(
        "SELECT event_type, value FROM events", "event_type", "value"
    )



@query("agg_anova_f", _anova_oracle())
def agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across all event types — the k-group F test
    beside ev_welch_ttest's two-group comparison: between/within sums
    of squares, F, and eta-squared, from ONE map-side-combined
    decimal-moment aggregation; everything past the k-row group frame
    is one-row broadcast arithmetic.
    See operators/events.anova_oneway."""
    from pydala2_spark.operators.events import anova_oneway

    return anova_oneway(_t(spark, sf_dir, "events"), "event_type", "value")



def _chi2_oracle() -> str:
    from pydala2_spark.functions.dq import chi2_oracle_sql

    return chi2_oracle_sql(
        """SELECT c_mktsegment AS seg, o_orderpriority AS pri
           FROM orders JOIN customer ON o_custkey = c_custkey""",
        "seg",
        "pri",
    )



@query("agg_chi2_independence", _chi2_oracle())
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test + Cramer's V between
    customer market segment and order priority — the classical
    categorical-association audit next to dq_mutual_info's
    information-theoretic one (a segmentation model wants to know if
    priority is segment-confounded BEFORE training on both). One
    equi-join on the key, one map-side-combined groupBy to the 5x5
    joint frame; marginals re-aggregate that frame, the corpus moves
    once. See functions/dq.chi2_independence."""
    from pydala2_spark.functions.dq import chi2_independence

    joined = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("seg"),
            ),
            "o_custkey",
        )
    )
    return chi2_independence(joined, "seg", "pri")



# =====================================================================
# Round-11 additions: rank correlation, key discovery, PSI drift
# =====================================================================


def _spearman_oracle() -> str:
    from pydala2_spark.functions.dq import spearman_oracle_sql

    return spearman_oracle_sql(
        "SELECT l_quantity, l_extendedprice FROM lineitem",
        "l_quantity",
        "l_extendedprice",
    )



@query("agg_spearman", _spearman_oracle())
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price —
    the monotone-association screen next to agg_corr_matrix's Pearson
    (strong Spearman + weak Pearson flags a nonlinear but learnable
    feature). Exact average ranks with NO global window: distinct-
    value tables get a distributed range-prefix, ranks join back as
    equi-joins, and the whole derivation is integer decimal arithmetic
    (twice-average-ranks, factor cancels in the scale-invariant
    formula) so both engines agree bit-for-bit before one final double
    division. See functions/dq.spearman_corr."""
    from pydala2_spark.functions.dq import spearman_corr

    return spearman_corr(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )



_WQ_QS = [0.25, 0.5, 0.75, 0.95]



def _wq_oracle() -> str:
    from pydala2_spark.functions.skew import weighted_quantiles_oracle_sql

    return weighted_quantiles_oracle_sql(
        "SELECT l_extendedprice, l_quantity FROM lineitem",
        "l_extendedprice",
        "l_quantity",
        _WQ_QS,
    )



@query("agg_weighted_quantiles", _wq_oracle())
def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price quantiles (weighted median and
    quartiles of l_extendedprice) — the unequal-row-weight percentile
    a pricing analysis needs, computed WITHOUT a global window: one
    groupBy to the distinct-value table with exact decimal weight
    sums, one distributed range-prefix, one single-row aggregate.
    See functions/skew.weighted_quantiles."""
    from pydala2_spark.functions.skew import weighted_quantiles

    return weighted_quantiles(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        _WQ_QS,
    )



# =====================================================================
# Round-12 additions: nonparametric / uncertainty stats, corpus
# novelty, embedding isotropy, growth accounting
# =====================================================================


def _mann_whitney_oracle() -> str:
    from pydala2_spark.functions.dq import mann_whitney_oracle_sql

    return mann_whitney_oracle_sql(
        "SELECT * FROM lineitem", "l_extendedprice", "l_returnflag = 'R'"
    )



@query("agg_mann_whitney", _mann_whitney_oracle())
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between returned and non-returned line items on
    extended price — the nonparametric location test next to
    ev_welch_ttest's mean test and dq_ks_test's distribution verdict
    (heavy-tailed revenue columns want rank tests, not t-tests).
    Exact pooled average ranks with NO global window: the
    spearman_corr distinct-value range-prefix machinery; integral
    twice-average-rank moments keep everything exact decimal until
    the final z expression. See functions/dq.mann_whitney."""
    from pydala2_spark.functions.dq import mann_whitney

    return mann_whitney(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )



def _jackknife_oracle() -> str:
    from pydala2_spark.functions.dq import jackknife_oracle_sql

    return jackknife_oracle_sql(
        "SELECT * FROM events", "value", "event_id", n_groups=20
    )



@query("agg_jackknife_ci", _jackknife_oracle())
def agg_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife SE + 95% CI for the mean event
    value — deterministic distributed uncertainty quantification (no
    resampling RNG; blocks are id % 20). The error bar an A/B or
    mixture readout needs next to the point estimate, robust to
    within-block correlation. ONE map-side-combined groupBy to 20
    block rows; both jackknife passes run on those rows.
    See functions/dq.jackknife_ci."""
    from pydala2_spark.functions.dq import jackknife_ci

    return jackknife_ci(
        _t(spark, sf_dir, "events"), "value", "event_id", n_groups=20
    )



def _winsor_oracle() -> str:
    from pydala2_spark.functions.dq import winsorized_mean_oracle_sql

    return winsorized_mean_oracle_sql("SELECT * FROM events", "value")



@query("agg_winsorized_mean", _winsor_oracle())
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value (exact type-1 P1/P99 clamping):
    the robust topline next to the raw mean — the gap between the two
    IS the outlier-impact number a corrupted-feed alert thresholds
    on. Quantiles from the distinct-value range-prefix; the clamped
    sum computes exactly on the reduced table (cnt x clamp(v) in
    decimal) — the corpus is scanned once.
    See functions/dq.winsorized_mean."""
    from pydala2_spark.functions.dq import winsorized_mean

    return winsorized_mean(_t(spark, sf_dir, "events"), "value")


def _ddsketch_oracle() -> str:
    from pydala2_spark.functions.sketch import ddsketch_oracle_sql

    return ddsketch_oracle_sql(
        "SELECT l_extendedprice FROM lineitem",
        "l_extendedprice",
        [0.5, 0.9, 0.99],
        alpha=0.01,
    )


@query("agg_ddsketch_quantiles", _ddsketch_oracle())
def agg_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch relative-error quantile digest (Masson, Rim & Lee,
    VLDB 2019) over l_extendedprice — the GUARANTEED-error mergeable
    percentile beside agg_quantile_sketch's KMV sample (sampling
    confidence) and the exact distributed-prefix quantiles (full
    shuffle): log-gamma buckets, alpha=1% relative bound, state size
    independent of row count. The query builds the sketch as TWO
    half-corpus states MERGED (union + count-add), proving the rollup
    path through the oracle gate — the merged state is byte-identical
    to the single-pass build, which is the sketch's defining property.

    100 TB shape: bucket assignment is a scan-stage expression;
    map-side combine collapses to ~240 buckets per partition before
    the one tiny shuffle; extraction windows over the bucket table
    (O(log range / alpha) rows — constant in data size). See
    functions/sketch.ddsketch_state."""
    from pydala2_spark.functions.sketch import (
        ddsketch_merge,
        ddsketch_quantiles,
        ddsketch_state,
    )

    li = _t(spark, sf_dir, "lineitem")
    state = ddsketch_merge(
        ddsketch_state(
            li.filter(F.col("l_linenumber") % 2 == 0), "l_extendedprice"
        ),
        ddsketch_state(
            li.filter(F.col("l_linenumber") % 2 == 1), "l_extendedprice"
        ),
    )
    return ddsketch_quantiles(state, [0.5, 0.9, 0.99], alpha=0.01)


def _gini_oracle() -> str:
    from pydala2_spark.functions.skew import gini_oracle_sql

    return gini_oracle_sql(
        "SELECT o_totalprice, o_orderkey FROM orders",
        "o_totalprice",
        ["o_orderkey"],
    )


@query("agg_gini", _gini_oracle())
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of order revenue — the one-number
    concentration readout next to w_pareto_abc's banded table (ABC
    says WHERE the mass sits, Gini says HOW UNEQUAL the whole
    distribution is, comparable across slices and over time; the
    VALUE-distribution sibling of dq_key_skew's key-frequency gini —
    that one prices shuffle skew from integer counts, this one prices
    revenue inequality from a money column). Rank
    formula over a distributed range-prefix; every sum is exact
    decimal. See functions/skew.gini_coefficient for the 100 TB
    notes (one range shuffle, one aggregate — never a global
    window)."""
    from pydala2_spark.functions.skew import gini_coefficient

    return gini_coefficient(
        _t(spark, sf_dir, "orders"), "o_totalprice", ["o_orderkey"]
    )


def _theil_oracle() -> str:
    from pydala2_spark.functions.skew import theil_oracle_sql

    return theil_oracle_sql(
        "SELECT c_mktsegment, o_totalprice FROM orders"
        " JOIN customer ON o_custkey = c_custkey",
        "o_totalprice",
        "c_mktsegment",
    )


@query("agg_theil_decomposition", _theil_oracle())
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of order revenue decomposed between/within
    market segments — the readout agg_gini cannot give: Theil's
    between + within ADD UP to the total exactly, so "is revenue
    concentration a segment-mix story or an inside-segment story" is a
    real split. One broadcast dim join (customer segment onto orders),
    ONE map-side-combined groupBy to the 5-segment moment table.
    See functions/skew.theil_decomposition for the ln ladder."""
    from pydala2_spark.functions.skew import theil_decomposition

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return theil_decomposition(j, "o_totalprice", "c_mktsegment")
