"""Skew-mitigation primitives for heavy-key aggregations and joins.

AQE (enabled in session.py) already splits skewed SHUFFLE partitions at
runtime; these helpers cover the two places AQE cannot help:

- ``distinct_count_two_phase``: COUNT(DISTINCT x) per key shuffles every
  (key, x) pair to one reducer per key. The two-phase form dedups on
  (key, x) first — map-side partial aggregation collapses duplicates
  before the shuffle, and the second phase counts tiny groups. This is
  what Catalyst does internally for single distincts; the explicit form
  composes with multiple distinct columns (where Catalyst falls back to
  expand+single-shuffle) and makes the plan auditable.
- ``salted_join``: a hot key floods one join task. Salting splits each
  left key into ``salt`` shards and replicates the matching right rows
  across shards — turning one 10 GB task into ``salt`` even ones. Use
  when the right side is too big to broadcast but per-key replication
  is affordable; prefer AQE skew-join when it triggers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize


def distinct_count_two_phase(
    df: DataFrame, keys: list[str], value_col: str, alias: str = "n_distinct"
) -> DataFrame:
    """Exact per-key distinct count via dedup-then-count (two shuffles,
    both skew-tolerant thanks to map-side partials)."""
    return (
        df.select(*keys, value_col)
        .dropDuplicates([*keys, value_col])
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(alias))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the left side salted into ``salt``
    shards and the right side replicated across them.

    The left's salt is derived from a high-cardinality hash of the whole
    row (deterministic, no rand()), so one hot key spreads over
    ``salt`` tasks; the right side explodes ×salt — size it accordingly.
    """
    l = left.withColumn("__salt", F.pmod(F.hash(*left.columns), F.lit(salt)))
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def distributed_prefix(
    df: DataFrame,
    order_cols: list,
    sum_col: str | list[str] | None = None,
    n_partitions: int | None = None,
    rank_col: str = "__rank",
    cum_col: str | list[str] = "__cum",
):
    """Distributed cumulative RANK and (optionally) cumulative SUM
    over a total order — the scalable replacement for a global
    ``Window.partitionBy()`` (which funnels every row through ONE
    task): range-partition on the order, compute partition-LOCAL
    prefixes, then add each partition's broadcast offset (row count /
    decimal sum of everything before it).

    ``order_cols`` must totally order the rows (include a unique
    tiebreaker). ``sum_col``, when given, must be a DECIMAL (or
    integral) column — exact addition is associative, so the result is
    bit-identical to the single-window form no matter where the
    sampled range boundaries fall (a float sum would NOT be). Returns
    the frame with ``rank_col`` (1-based) and, if requested,
    ``cum_col`` (inclusive exact prefix sum). ``sum_col``/``cum_col``
    may be parallel LISTS to compute several cumulative sums in the
    same single range shuffle (e.g. two cohorts' CDFs for a
    Wasserstein distance).

    Shape: one range shuffle + two tiny aggregations over
    |partitions| rows; no task ever sees more than its range.

    The ranged frame is materialized ONCE (lazy :func:`materialize`,
    released by the ContextCleaner): the per-partition offsets join
    references it on both sides, and without materialization each
    side may re-evaluate the range shuffle with DIFFERENT sampled
    boundaries (RangePartitioner samples a shuffle output whose
    intra-partition row order is not deterministic, and runtime
    exchange reuse is best-effort, not guaranteed) — rows then pick
    up offsets computed for a partitioning they are not in, silently
    corrupting ranks. Observed in r12: three consecutive aggregations
    over one prefix frame returned three different sums until the
    checkpoint pinned the partitioning."""
    from pyspark.sql import Window

    sum_cols = [sum_col] if isinstance(sum_col, str) else list(sum_col or [])
    cum_cols = [cum_col] if isinstance(cum_col, str) else list(cum_col or [])
    if sum_cols and len(cum_cols) < len(sum_cols):
        raise ValueError("cum_col must name one output per sum_col")
    # n_partitions=None (default) derives the range width from the
    # session's core count instead of a constant: the prefix stages are
    # CPU-bound window work over the reduced table, so the right width
    # tracks available parallelism — 32 was tuned for local[32] and
    # would starve a large cluster. NOT left to AQE coalescing: the
    # reduced tables are kilobytes-to-megabytes, so the 64 MB advisory
    # size collapses the exchange to 1-2 partitions and serializes the
    # window (measured 3x slower at sf0.1); an explicit count keeps
    # every core busy at any scale. Exact integer/decimal sums make
    # the result bit-identical for ANY partition count.
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        df.repartitionByRange(n_partitions, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = ranged.withColumn("__lrank", F.row_number().over(w_local))
    aggs = [F.count(F.lit(1)).alias("__pn")]
    for i, sc in enumerate(sum_cols):
        out = out.withColumn(f"__lcum{i}", F.sum(sc).over(w_run))
        aggs.append(F.sum(sc).alias(f"__psum{i}"))
    per_part = out.groupBy("__pid").agg(*aggs)
    w_off = (
        Window.partitionBy()
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_types = dict(per_part.dtypes)
    offsets = per_part.select(
        "__pid",
        F.coalesce(F.sum("__pn").over(w_off), F.lit(0)).alias("__off_n"),
        *[
            F.coalesce(
                F.sum(f"__psum{i}").over(w_off),
                F.lit(0).cast(per_types[f"__psum{i}"]),
            ).alias(f"__off_s{i}")
            for i in range(len(sum_cols))
        ],
    )
    out = out.join(F.broadcast(offsets), "__pid").withColumn(
        rank_col, (F.col("__lrank") + F.col("__off_n")).cast("long")
    )
    drop = ["__pid", "__lrank", "__off_n"]
    for i in range(len(sum_cols)):
        out = out.withColumn(
            cum_cols[i], F.col(f"__lcum{i}") + F.col(f"__off_s{i}")
        )
        drop += [f"__lcum{i}", f"__off_s{i}"]
    return out.drop(*drop)


def distributed_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    out_col: str = "__ntile",
    n_partitions: int | None = None,
) -> DataFrame:
    """SQL-standard ``ntile(k)`` over a total order WITHOUT the global
    window funnel: global rank via :func:`distributed_prefix`, then
    the standard bucket formula on (rank, n) — the first ``n % k``
    buckets take ``floor(n/k)+1`` rows, the rest ``floor(n/k)``.
    Integer-exact, so the result equals a native ``ntile()`` row for
    row (the w_value_deciles contract, factored out for reuse).

    ``order_cols`` must totally order the rows (include a unique
    tiebreaker)."""
    # n comes from df.agg(count), NOT max(rank) over the prefix frame:
    # every caller feeds a materialized input, so the count is a
    # trivial scan, while the max-rank form re-runs the prefix window
    # for the broadcast subquery (measured 17% slower on rfm_scores,
    # r14 interleaved A/B)
    n_row = df.agg(F.count(F.lit(1)).alias("__n"))
    r = distributed_prefix(
        df, order_cols, n_partitions=n_partitions, rank_col="__r"
    ).crossJoin(F.broadcast(n_row))
    sz = F.floor(F.col("__n") / k).cast("long")
    big = F.col("__n") % k
    cut = big * (sz + 1)
    bucket = (
        F.when(F.col("__r") <= cut, F.floor((F.col("__r") - 1) / (sz + 1)) + 1)
        # greatest() keeps the dormant branch ANSI-safe when n < k
        # (sz = 0 there, but cut = n already routed every row above)
        .otherwise(big + F.floor((F.col("__r") - 1 - cut) / F.greatest(sz, F.lit(1))) + 1)
        .cast("int")
    )
    return r.withColumn(out_col, bucket).drop("__r", "__n")


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: list[float],
    ndigits: int = 6,
) -> DataFrame:
    """Exact weighted quantiles WITHOUT a global window: the smallest
    value whose cumulative weight reaches q x W, for each q — the
    weighted median/quartiles a pricing or capacity analysis needs
    when every row does not count equally (revenue-weighted price
    percentiles, bytes-weighted file-size quantiles).

    Shape: one map-side-combined groupBy to the distinct-value table
    (weights summed exactly as DECIMAL(38,6)), one distributed range-
    prefix over it (:func:`distributed_prefix` — range shuffle +
    broadcast offsets, never a one-task window), one single-row
    aggregate. Thresholds compare in double against the exact decimal
    prefix — both engines evaluate the identical expression.

    Output: one row per q — ``(q, total_weight, value)``.

    Weights must be NON-NEGATIVE: the total is taken as ``max(cum)``
    and the threshold scan assumes a monotone cumulative — negative
    weights would silently produce wrong quantiles. Rows with
    ``weight < 0`` are therefore FILTERED (alongside NULLs), in both
    this operator and the oracle, making the precondition enforced
    rather than assumed.
    """
    if not qs or any(not 0 < q <= 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    g = (
        df.select(
            F.col(value_col).alias("v"),
            F.col(weight_col).cast("decimal(38,6)").alias("w"),
        )
        .filter(
            F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") >= 0)
        )
        .groupBy("v")
        .agg(F.sum("w").alias("cw"))
    )
    pre = distributed_prefix(g, ["v"], sum_col="cw", cum_col="__cum")
    tot = pre.agg(F.max("__cum").alias("__w"))
    j = pre.crossJoin(F.broadcast(tot)).select(
        "v",
        F.col("__cum").cast("double").alias("cum"),
        F.col("__w").cast("double").alias("w"),
    )
    aggs = []
    for q in qs:
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.lit(q) * F.col("w"), F.col("v"))
            ).alias(f"v_{int(q * 10000)}")
        )
    row = j.agg(F.round(F.max("w"), ndigits).alias("total_weight"), *aggs)
    arms = [
        F.struct(
            F.lit(q).alias("q"),
            F.col("total_weight"),
            F.col(f"v_{int(q * 10000)}").alias("value"),
        )
        for q in qs
    ]
    return row.select(F.explode(F.array(*arms)).alias("r")).select("r.*")


def weighted_quantiles_oracle_sql(
    table_sql: str,
    value_col: str,
    weight_col: str,
    qs: list[float],
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`weighted_quantiles` — window cumsum
    over the same decimal-weighted distinct-value table (fine at
    oracle SF), identical double threshold comparison, and the same
    negative-weight exclusion (monotone-cumulative precondition)."""
    arms = []
    for q in qs:
        arms.append(
            f"SELECT CAST({q!r} AS DOUBLE) AS q, total_weight,"
            f" (SELECT min(v) FROM pre"
            f"  WHERE CAST(cum AS DOUBLE) >= {q!r} * CAST(w0.w AS DOUBLE))"
            f" AS value FROM w0"
        )
    return f"""
    WITH g AS (
      SELECT {value_col} AS v,
             sum(CAST({weight_col} AS DECIMAL(38,6))) AS cw
      FROM ({table_sql})
      WHERE {value_col} IS NOT NULL AND {weight_col} IS NOT NULL
        AND {weight_col} >= 0
      GROUP BY 1
    ), pre AS MATERIALIZED (
      SELECT v, sum(cw) OVER (ORDER BY v) AS cum FROM g
    ), w0 AS MATERIALIZED (
      SELECT max(cum) AS w,
             round(CAST(max(cum) AS DOUBLE), {ndigits}) AS total_weight
      FROM pre
    )
    {" UNION ALL ".join(arms)}
    """


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    ndigits: int = 6,
) -> DataFrame:
    """Exact Gini concentration coefficient of one NON-NEGATIVE column
    — the single-number inequality readout (0 = perfectly even,
    ->1 = one row holds everything) a revenue / token-count / traffic
    mix audit wants next to the pareto_abc table. Uses the rank
    formula ``G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x))`` over
    values sorted ascending with ``key_cols`` as the unique tiebreak
    (ties in x make i*x_i order-independent only with a total order).

    Output: one row ``(n_rows, total, gini)``.

    Determinism: each row's ``rank * value`` is one double product
    (bit-identical cross-engine), cast to DECIMAL(38,6) and summed
    exactly — summation order can't move a bit; the final expression
    is double arithmetic on three exact scalars. NULL and negative
    values are filtered (Gini's non-negativity precondition, enforced
    like weighted_quantiles' weights).

    100 TB shape: ONE distributed range-prefix assigns global ranks
    (:func:`distributed_prefix` — range shuffle + broadcast offsets,
    never a one-task window), then ONE map-side-combined aggregate.
    """
    base = df.select(
        F.col(value_col).alias("__v"), *[F.col(k) for k in key_cols]
    ).filter(F.col("__v").isNotNull() & (F.col("__v") >= 0))
    r = distributed_prefix(base, ["__v", *key_cols], rank_col="__r")
    row = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("__v").cast("decimal(38,6)")).alias("__s"),
        F.sum(
            (F.col("__r").cast("double") * F.col("__v")).cast("decimal(38,6)")
        ).alias("__si"),
    )
    n = F.col("n_rows").cast("double")
    s = F.col("__s").cast("double")
    si = F.col("__si").cast("double")
    return row.select(
        "n_rows",
        F.round(s, 2).alias("total"),
        F.round(
            F.when(
                (F.col("n_rows") > 0) & (s > 0),
                (F.lit(2.0) * si - (n + F.lit(1.0)) * s) / (n * s),
            ),
            ndigits,
        ).alias("gini"),
    )


def gini_oracle_sql(
    table_sql: str,
    value_col: str,
    key_cols: list[str],
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`gini_coefficient`: identical total
    order, identical per-row double product cast to exact decimal,
    identical final double expression and degenerate-input CASE."""
    order = ", ".join(["v", *key_cols])
    return f"""
    WITH base AS (
      SELECT {value_col} AS v, {", ".join(key_cols)}
      FROM ({table_sql})
      WHERE {value_col} IS NOT NULL AND {value_col} >= 0
    ), r AS (
      SELECT v, row_number() OVER (ORDER BY {order}) AS rk FROM base
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             sum(CAST(v AS DECIMAL(38,6))) AS s,
             sum(CAST(CAST(rk AS DOUBLE) * v AS DECIMAL(38,6))) AS si
      FROM r
    )
    SELECT n_rows,
           round(CAST(s AS DOUBLE), 2) AS total,
           round(CASE WHEN n_rows > 0 AND CAST(s AS DOUBLE) > 0 THEN
             (2.0 * CAST(si AS DOUBLE)
              - (CAST(n_rows AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
             / (CAST(n_rows AS DOUBLE) * CAST(s AS DOUBLE))
           END, {ndigits}) AS gini
    FROM a
    """


def theil_decomposition(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Theil-T inequality index with its EXACT between/within
    decomposition (Theil 1967) — the property Gini lacks and the reason
    a mix audit wants both: ``T_total = T_between + T_within``
    identically, so "how much revenue inequality is BETWEEN segments
    vs WITHIN them" is a real split, not a residual. Using value-share
    weights: ``T = L/A - ln(mu)`` per population with ``A = sum(v)``,
    ``L = sum(v*ln v)``; ``T_between = sum_g (A_g/A) * ln(mu_g/mu)``;
    ``T_within = sum_g (A_g/A) * T_g``.

    Output: one row ``(n_rows, n_groups, theil_total, theil_between,
    theil_within, between_share)``; NULLs when no positive values.
    Rows with ``v <= 0`` or NULL are filtered (Theil's positivity
    precondition, enforced like gini's).

    Determinism ladder: per-row ``v*ln(v)`` rounds to 12 and
    accumulates as DECIMAL(38,12) (the idf/mutual-info ln discipline);
    cross-group terms re-round to 12 before their decimal sum; final
    expressions are double arithmetic on exact scalars.

    100 TB shape: ONE map-side-combined groupBy to the |groups|-row
    moment table (n_g, A_g, L_g); everything after runs on that small
    frame against a one-row broadcast total."""
    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).filter(F.col("v").isNotNull() & (F.col("v") > 0))
    per = materialize(  # |groups| rows feed totals AND terms
        base.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("a_g"),
            F.sum(
                F.round(F.col("v") * F.log("v"), 12).cast("decimal(38,12)")
            ).alias("l_g"),
        )
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("a_g").alias("a"),
        F.sum("l_g").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    j = per.crossJoin(F.broadcast(tot))
    a_g = F.col("a_g").cast("double")
    a = F.col("a").cast("double")
    mu_g = a_g / F.col("n_g").cast("double")
    mu = a / F.col("n").cast("double")
    share = a_g / a
    t_g = F.col("l_g").cast("double") / a_g - F.log(mu_g)
    between_term = F.round(share * F.log(mu_g / mu), 12).cast(
        "decimal(38,12)"
    )
    within_term = F.round(share * t_g, 12).cast("decimal(38,12)")
    agg = j.groupBy("n", "a", "l", "n_groups").agg(
        F.sum(between_term).alias("tb"),
        F.sum(within_term).alias("tw"),
    )
    t_total = F.col("l").cast("double") / F.col("a").cast("double") - F.log(
        F.col("a").cast("double") / F.col("n").cast("double")
    )
    tb = F.col("tb").cast("double")
    tw = F.col("tw").cast("double")
    return agg.select(
        F.col("n").alias("n_rows"),
        "n_groups",
        F.round(t_total, ndigits).alias("theil_total"),
        F.round(tb, ndigits).alias("theil_between"),
        F.round(tw, ndigits).alias("theil_within"),
        F.round(
            F.when(t_total > 0, tb / t_total), ndigits
        ).alias("between_share"),
    )


def theil_oracle_sql(
    table_sql: str,
    value_col: str,
    group_col: str,
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`theil_decomposition`: identical ln
    ladder (round-12 decimal term accumulation at BOTH levels) and
    final double expressions."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS g, {value_col} AS v
      FROM ({table_sql})
      WHERE {value_col} IS NOT NULL AND {value_col} > 0
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(v AS DECIMAL(38,6))) AS a_g,
             sum(CAST(round(v * ln(v), 12) AS DECIMAL(38,12))) AS l_g
      FROM base GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(a_g) AS a, sum(l_g) AS l,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM per
    ), terms AS (
      SELECT tot.n, tot.a, tot.l, tot.n_groups,
             sum(CAST(round(
               (CAST(a_g AS DOUBLE) / CAST(tot.a AS DOUBLE))
               * ln((CAST(a_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                    / (CAST(tot.a AS DOUBLE) / CAST(tot.n AS DOUBLE))),
               12) AS DECIMAL(38,12))) AS tb,
             sum(CAST(round(
               (CAST(a_g AS DOUBLE) / CAST(tot.a AS DOUBLE))
               * (CAST(l_g AS DOUBLE) / CAST(a_g AS DOUBLE)
                  - ln(CAST(a_g AS DOUBLE) / CAST(n_g AS DOUBLE))),
               12) AS DECIMAL(38,12))) AS tw
      FROM per, tot
      GROUP BY tot.n, tot.a, tot.l, tot.n_groups
    )
    SELECT n AS n_rows, n_groups,
           round(CAST(l AS DOUBLE) / CAST(a AS DOUBLE)
                 - ln(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)), {ndigits})
             AS theil_total,
           round(CAST(tb AS DOUBLE), {ndigits}) AS theil_between,
           round(CAST(tw AS DOUBLE), {ndigits}) AS theil_within,
           round(CASE WHEN CAST(l AS DOUBLE) / CAST(a AS DOUBLE)
                           - ln(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                      THEN CAST(tb AS DOUBLE)
                           / (CAST(l AS DOUBLE) / CAST(a AS DOUBLE)
                              - ln(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)))
                 END, {ndigits}) AS between_share
    FROM terms
    """
