"""Event-stream analytics: funnel, cohort retention, trend fitting.

Extension surface — the reference manages datasets and leaves
analytics to its embedded DuckDB (/root/reference/pydala/table.py:
940-958); these are the canonical event-table shapes a data platform
runs daily, expressed so each one is a fixed, small number of
shuffles regardless of event count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize


def funnel_counts(
    ev: DataFrame,
    steps: list[str],
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered conversion funnel: one output row whose column ``n_<i>``
    counts users who completed steps[0..i] with strictly increasing
    timestamps.

    Each stage min-reduces to ONE row per user before the next
    equi-join, so stage joins shuffle |users| rows, never |events| —
    the funnel narrows monotonically and every stage's small side is a
    candidate broadcast. No windows, no self-join on the raw stream.

    The event table reads ONCE: the step-filtered (user, type, ts)
    projection materializes via `frames.materialize` before the
    stage loop — each stage plus its count branch would otherwise
    re-scan the corpus (measured: 2·k FileScans for a k-step funnel,
    1 after).
    """

    if not steps:
        raise ValueError("steps must be non-empty")
    base = materialize(
        ev.filter(F.col(type_col).isin(steps)).select(user_col, type_col, ts_col)
    )
    stage = (
        base.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    counts = [stage.agg(F.count(F.lit(1)).alias("n_0"))]
    for i, step in enumerate(steps[1:], start=1):
        stage = (
            base.filter(F.col(type_col) == step)
            .join(stage.select(user_col, "__t"), user_col)
            .filter(F.col(ts_col) > F.col("__t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
        )
        counts.append(stage.agg(F.count(F.lit(1)).alias(f"n_{i}")))
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


def cohort_retention(
    ev: DataFrame,
    max_offset: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Users active on day ``cohort + offset``, per first-seen cohort.

    Two aggregations + one equi-join on the user key; the activity side
    is deduped to (user, day) BEFORE the join so the shuffle carries
    user-days, not raw events — and the first-seen cohort derives from
    that SAME deduped frame (min over distinct days ≡ min over raw
    events), so the event table reads once, not twice.
    """

    a = materialize(
        ev.select(user_col, F.to_date(ts_col).alias("day")).distinct()
    )
    f = a.groupBy(user_col).agg(F.min("day").alias("cohort"))
    return (
        a.join(f, user_col)
        .select(
            "cohort", F.datediff("day", "cohort").cast("long").alias("day_offset")
        )
        .filter(F.col("day_offset") <= max_offset)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


_DEC = "decimal(38,6)"


def grouped_ols_trend(
    df: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
    per: float = 86400.0,
) -> DataFrame:
    """Closed-form per-group least-squares line fit (y ~ x): one
    aggregation pass computes n/Σx/Σy/Σxy/Σx², then slope/intercept
    derive in double — the distributed, iteration-free way to fit a
    trend per key (map-side combined, one shuffle of |groups| rows).

    Sums accumulate in DECIMAL(38,6) so partition order cannot move a
    bit — keep |x| small enough (e.g. seconds from a corpus epoch)
    that x² stays inside 38 digits. ``per`` rescales the slope to a
    readable unit (default: per day for x in seconds). Zero-variance
    groups (n=1, or constant x) divide by zero and yield NULL slope/
    intercept — identically in Spark (non-ANSI) and DuckDB.
    """
    b = df.select(F.col(group_col), x.alias("x"), y.alias("y"))
    s = b.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(_DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        group_col,
        "n",
        F.round(slope * per, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


def ohlc_bars(
    ev: DataFrame,
    freq: str = "hour",
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Classic time-bar aggregation: per (key, bucket) the OPEN (first
    value in the bucket), HIGH, LOW, CLOSE (last value), mean, and
    event count — the resampling shape every metrics/financial
    pipeline runs before charting or modeling a stream.

    Open/close are argmin/argmax over the composite (ts, id) key via
    MIN/MAX over a packed struct: structs compare lexicographically in
    both Spark and DuckDB, and ``id_col`` uniqueness makes the pick
    fully deterministic — no window pass, no self-join.

    Reference analogue: none (the reference leaves analytics to its
    embedded DuckDB, /root/reference/pydala/table.py:940-958).

    100 TB shape: ONE hash aggregation keyed (key, bucket); struct
    MIN/MAX and the decimal sums all combine map-side, so the shuffle
    carries |keys|×|buckets| partial rows, never |events|. No skew
    hazard beyond a genuinely hot (key, bucket), which AQE splits.
    """
    steps = {"day", "hour"}
    if freq not in steps:
        raise ValueError(f"freq must be one of {sorted(steps)}, got {freq!r}")
    bucket = F.date_trunc(freq, F.col(ts_col))
    packed = F.struct(
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(value_col).alias("v"),
    )
    return (
        ev.select(F.col(key_col), bucket.alias("__b"), packed.alias("__s"))
        .groupBy(key_col, "__b")
        .agg(
            F.round(F.min("__s").getField("v"), 2).alias("open"),
            F.round(F.max("__s.v"), 2).alias("high_"),
            F.round(F.min("__s.v"), 2).alias("low_"),
            F.round(F.max("__s").getField("v"), 2).alias("close"),
            F.round(
                F.sum(F.col("__s.v").cast(_DEC)).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("mean_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col(key_col),
            F.date_format(
                "__b", "yyyy-MM-dd HH:00" if freq == "hour" else "yyyy-MM-dd"
            ).alias("bucket"),
            "open",
            "high_",
            "low_",
            "close",
            "mean_value",
            "n_events",
        )
    )


def resample_locf(
    ev: DataFrame,
    freq: str = "day",
    value_col: str = "value",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Resample an irregular event stream onto a regular per-entity
    time grid with last-observation-carried-forward — the gap-filling
    step before any time-series model or day-over-day comparison: one
    row per (entity, bucket) from the entity's FIRST event bucket to
    the corpus's last bucket, carrying the entity's most recent
    observed value across silent buckets.

    The per-bucket observation is the entity's LAST event in the
    bucket (latest ``ts_col``, ties broken by ``id_col`` — fully
    deterministic). Output: ``(user_col, bucket, observed,
    value_locf)`` with ``observed`` flagging buckets that had a real
    event. ``freq`` ∈ {'day', 'hour'}.

    Reference analogue: none (the reference leaves analytics to its
    embedded DuckDB, /root/reference/pydala/table.py:940-958).

    100 TB shape: the heavy input collapses FIRST — one hash
    aggregation to |entities|×|active buckets| via the dedup window —
    and everything after runs on that reduced frame: grid bounds are
    an aggregate of it, the corpus end is a broadcast one-row
    aggregate (never a driver collect), the grid explode is map-side,
    and the LOCF window partitions per entity over |span| rows.
    Nothing is ever |events|-sized past the first shuffle; output is
    |entities| × |grid span|, which the CALLER chose by picking
    ``freq``.
    """
    from pyspark.sql import Window

    steps = {"day": "interval 1 day", "hour": "interval 1 hour"}
    if freq not in steps:
        raise ValueError(f"freq must be one of {sorted(steps)}, got {freq!r}")
    bucket = F.date_trunc(freq, F.col(ts_col))
    rn = F.row_number().over(
        Window.partitionBy(F.col(user_col), bucket).orderBy(
            F.col(ts_col).desc(), F.col(id_col).desc()
        )
    )

    # materialized: per_bucket feeds the grid bounds, the global end
    # and the grid join — three corpus-scan + dedup-window re-runs
    # otherwise, and the stored frame is |users x buckets| (reduced)
    per_bucket = materialize(
        ev.select(
            F.col(user_col),
            bucket.alias("bucket"),
            F.col(value_col).alias("__v"),
            rn.alias("__rn"),
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    bounds = per_bucket.groupBy(user_col).agg(F.min("bucket").alias("b0"))
    end = per_bucket.agg(F.max("bucket").alias("bmax"))  # one-row broadcast
    grid = bounds.crossJoin(F.broadcast(end)).select(
        F.col(user_col),
        F.explode(F.expr(f"sequence(b0, bmax, {steps[freq]})")).alias("bucket"),
    )
    j = grid.join(per_bucket, [user_col, "bucket"], "left")
    w = (
        Window.partitionBy(user_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        F.col(user_col),
        F.col("bucket"),
        F.col("__v").isNotNull().alias("observed"),
        F.last("__v", ignorenulls=True).over(w).alias("value_locf"),
    )


def scd2_history(
    ev: DataFrame,
    attr_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch SCD-Type-2 history build: collapse an entity's event
    stream into validity intervals of the tracked attribute — one row
    per run of consecutive equal values, with ``valid_from`` (epoch
    microseconds of the run's first event), ``valid_to`` (start of the next
    run; NULL while current), ``n_events`` in the run, and
    ``is_current``. The batch sibling of streaming/pipeline's SCD2
    sink, for building a dimension's history from raw facts in one
    shot.

    Gaps-and-islands: a lag-change flag, a running sum to number the
    islands, then one aggregate per island — all inside a SINGLE
    partition-by-entity window spec, so the whole operator is one
    shuffle keyed by entity plus one map-side-combining agg. Ordering
    ties break by ``id_col``: fully deterministic.

    Reference analogue: none (the reference leaves analytics to its
    embedded DuckDB, /root/reference/pydala/table.py:940-958).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    chg = (
        F.when(
            F.lag(attr_col).over(w).isNull()
            | (F.lag(attr_col).over(w) != F.col(attr_col)),
            1,
        )
        .otherwise(0)
    )
    run = F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    marked = ev.select(
        F.col(key_col),
        F.col(attr_col),
        # microsecond epoch: full timestamp fidelity (event streams
        # carry sub-second precision; oracle mirror is epoch_us)
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__e"),
        run.alias("__run"),
    )
    per_run = marked.groupBy(key_col, "__run").agg(
        F.any_value(attr_col).alias(attr_col),  # constant within a run
        F.min("__e").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy(key_col).orderBy("__run")
    return per_run.select(
        F.col(key_col),
        F.col(attr_col),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def rolling_quantiles(
    ev: DataFrame,
    trailing: int = 7,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Trailing-window quantiles over a daily series: collapse events
    to exact per-(key, day) totals, then interpolated quantiles over
    the last ``trailing`` days (rows) per key — the robust-baseline
    primitive behind anomaly bands and "median of the last week"
    alerting, where a mean would chase the outliers being hunted.

    Output: ``(key, day, day_total, q_50, q_90, ...)`` — one ``q_<pct>``
    column per requested quantile, linearly interpolated (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``).

    Reference analogue: none (the reference leaves analytics to its
    embedded DuckDB, /root/reference/pydala/table.py:940-958).

    100 TB shape: the |events| input collapses FIRST (one map-side-
    combining agg to |keys|×|days| rows); the quantile window then
    sorts only that reduced frame, partitioned by key — a second
    shuffle of days, not events. Exact decimal day totals keep every
    downstream quantile engine-reproducible.
    """
    if trailing < 1:
        raise ValueError(f"trailing must be >= 1, got {trailing}")
    from pyspark.sql import Window

    daily = (
        ev.groupBy(
            F.col(key_col), F.date_trunc("day", F.col(ts_col)).alias("__d")
        )
        .agg(
            F.round(F.sum(F.col(value_col).cast(_DEC)), 2)
            .cast("double")
            .alias("day_total")
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("__d")
        .rowsBetween(-(trailing - 1), 0)
    )
    cols = [
        F.col(key_col),
        F.date_format("__d", "yyyy-MM-dd").alias("day"),
        F.col("day_total"),
    ]
    for q in quantiles:
        cols.append(
            F.round(F.percentile("day_total", F.lit(q)).over(w), 4).alias(
                f"q_{int(round(q * 100))}"
            )
        )
    return daily.select(*cols)


def anomaly_days(
    ev: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    z_cut: float = 3.0,
) -> DataFrame:
    """Robust per-key anomaly screen over the daily series: flag days
    whose total deviates from the key's MEDIAN by more than ``z_cut``
    robust z-scores, where the scale is the median absolute deviation
    (MAD x 1.4826, the normal-consistency constant). Median/MAD ignore
    the outliers being hunted — the standard reason this beats a
    mean/stddev screen on ops metrics.

    Output: ``(key, day, day_total, z, is_anomaly)`` with z rounded
    to 4 (NULL when MAD is 0 — a constant series has no scale).

    100 TB shape: events collapse to |keys|x|days| in the first
    map-side-combining agg; both median and MAD come from window
    percentiles over that reduced frame under ONE partitioning (one
    shuffle, two Window passes, no self-join).
    """
    from pyspark.sql import Window

    daily = (
        ev.groupBy(F.col(key_col), F.date_trunc("day", F.col(ts_col)).alias("__d"))
        .agg(
            F.round(F.sum(F.col(value_col).cast(_DEC)), 2)
            .cast("double")
            .alias("day_total")
        )
    )
    w = Window.partitionBy(key_col)
    med = F.percentile("day_total", F.lit(0.5)).over(w)
    dev = F.abs(F.col("day_total") - F.col("__med"))
    scaled = daily.withColumn("__med", med).withColumn("__dev", dev)
    mad = F.percentile("__dev", F.lit(0.5)).over(w)
    z = F.col("__dev") / (F.lit(1.4826) * F.col("__mad"))
    return (
        scaled.withColumn("__mad", mad)
        .select(
            F.col(key_col),
            F.date_format("__d", "yyyy-MM-dd").alias("day"),
            "day_total",
            F.when(F.col("__mad") > 0, F.round(z, 4)).alias("z"),
            F.when(F.col("__mad") > 0, z > z_cut).alias("is_anomaly"),
        )
    )


def resample_interp(
    ev: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Linear-interpolation resample onto a daily grid: one row per
    (entity, day) from the entity's FIRST to its LAST observed day,
    silent days filled by the straight line between the surrounding
    observations — the gap-filler for quantities that drift (balances,
    gauges) where LOCF's step function misstates the path. The
    per-day observation is the entity's last event that day
    ((ts, id)-deterministic, like resample_locf).

    Output: ``(user_col, day, observed, value_interp)`` with the
    interpolated value rounded to 4. The grid deliberately ENDS at the
    entity's last observation — extrapolation is a modeling choice,
    not a resample.

    Reference analogue: none (the reference leaves analytics to its
    embedded DuckDB, /root/reference/pydala/table.py:940-958).

    100 TB shape: same as resample_locf — the stream collapses to
    |entities| x |active days| in the first shuffle; the grid explode
    is map-side; prev/next carries are two frames over ONE
    entity-keyed window partitioning. Fractions are integer-day
    ratios in IEEE double: engine-reproducible.
    """
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy(F.col(user_col), F.date_trunc("day", F.col(ts_col)))
        .orderBy(F.col(ts_col).desc(), F.col(id_col).desc())
    )

    # materialized: per_day feeds the grid bounds and the grid join —
    # two corpus-scan + dedup-window re-runs otherwise (reduced frame)
    per_day = materialize(
        ev.select(
            F.col(user_col),
            F.date_trunc("day", F.col(ts_col)).alias("__d"),
            F.col(value_col).alias("__v"),
            rn.alias("__rn"),
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    bounds = per_day.groupBy(user_col).agg(
        F.min("__d").alias("__d0"), F.max("__d").alias("__d1")
    )
    grid = bounds.select(
        F.col(user_col),
        F.explode(F.expr("sequence(__d0, __d1, interval 1 day)")).alias("__d"),
    )
    j = grid.join(per_day, [user_col, "__d"], "left")
    obs = F.when(F.col("__v").isNotNull(), F.struct(F.col("__d"), F.col("__v")))
    w = Window.partitionBy(user_col).orderBy("__d")
    prev = F.last(obs, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    nxt = F.first(obs, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    frac = F.datediff(F.col("__d"), F.col("__p.__d")).cast("double") / F.datediff(
        F.col("__n.__d"), F.col("__p.__d")
    )
    interp = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
        F.col("__p.__v") + (F.col("__n.__v") - F.col("__p.__v")) * frac
    )
    return (
        j.withColumn("__p", prev)
        .withColumn("__n", nxt)
        .select(
            F.col(user_col),
            F.date_format("__d", "yyyy-MM-dd").alias("day"),
            F.col("__v").isNotNull().alias("observed"),
            F.round(interp, 4).alias("value_interp"),
        )
    )


def mann_kendall(
    series: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test + Kendall's tau per group: the standard
    NONPARAMETRIC monotone-trend detector for time series (Mann 1945,
    Kendall 1975) — robust to outliers and any monotone transform,
    where an OLS slope (grouped_ols_trend) is neither. ``series`` is
    one row per (group, time) with a numeric value; output per group:

    - ``s_stat`` = sum over ordered pairs of sign(x_j - x_i) (integer),
      with ``n_concordant`` / ``n_discordant`` / ``n_tied`` breakdowns;
    - ``tau`` = S / (n(n-1)/2) — Kendall's tau-a in [-1, 1];
    - ``z_score`` = the normal-approximation statistic
      (S ∓ 1) / sqrt(n(n-1)(2n+5)/18) with continuity correction;
    - ``trend`` = increasing / decreasing / none at the 5% level
      (|z| > 1.959964).

    Pair comparisons are sign tests — integer-exact, so the oracle
    matches bit-for-bit; tau and z are one division / one sqrt each.

    100 TB shape: built for PRE-AGGREGATED series (e.g. daily rollups
    of a raw stream — aggregate first, map-side combined). The pair
    self-join is per-group O(n_points²) with n_points bounded by the
    calendar, not the event count; groups spread across the cluster.
    """
    a = series.select(
        F.col(group_col),
        F.col(time_col).alias("__t1"),
        F.col(value_col).alias("__x1"),
    )
    b = series.select(
        F.col(group_col),
        F.col(time_col).alias("__t2"),
        F.col(value_col).alias("__x2"),
    )
    pairs = a.join(b, group_col).filter(F.col("__t1") < F.col("__t2"))
    sign = F.when(F.col("__x2") > F.col("__x1"), 1).when(
        F.col("__x2") < F.col("__x1"), -1
    ).otherwise(0)
    n_points = series.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    stats = pairs.groupBy(group_col).agg(
        F.sum(sign).cast("long").alias("s_stat"),
        F.sum(F.when(sign == 1, 1).otherwise(0)).cast("long").alias("n_concordant"),
        F.sum(F.when(sign == -1, 1).otherwise(0)).cast("long").alias("n_discordant"),
        F.sum(F.when(sign == 0, 1).otherwise(0)).cast("long").alias("n_tied"),
    )
    n = F.col("n_points").cast("double")
    var_s = n * (n - 1) * (2 * n + 5) / F.lit(18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    crit = 1.959964
    return (
        n_points.join(stats, group_col)
        .withColumn(
            "tau",
            F.round(
                F.col("s_stat").cast("double") / (n * (n - 1) / F.lit(2.0)), 4
            ),
        )
        .withColumn("z_score", F.round(z, 4))
        .withColumn(
            "trend",
            F.when(F.col("z_score") > crit, F.lit("increasing"))
            .when(F.col("z_score") < -crit, F.lit("decreasing"))
            .otherwise(F.lit("none")),
        )
    )


def pettitt_change_point(
    series: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Pettitt (1979) single change-point detection per group: the
    rank-based test that locates WHERE a series' distribution shifted
    — the monitoring question after mann_kendall's "is there a trend".
    For each candidate split t, U_t = sum over pairs (i <= t < j) of
    sign(x_j - x_i); the change point is the t maximizing |U_t|, with
    significance p ~ 2*exp(-6K^2 / (n^3 + n^2)).

    Computed via the O(n^2)-pair identity U_t = -sum_{s<=t} V_s with
    V_s = sum_{j != s} sign(x_s - x_j): ONE pair join builds the
    per-element V, one prefix-sum window builds every U_t — not the
    naive O(n^3) per-candidate rescan. Sign statistics are integers,
    so the oracle matches exactly (p rounds to 4, the repo's
    transcendental-behind-round precedent).

    Output per group: n_points, t_star (the change-point time, ties to
    the earliest), k_stat = |U_{t_star}|, u_stat = U_{t_star} (sign
    says shift direction: positive = later values larger), p_approx.

    100 TB shape: built for pre-aggregated series (daily rollups) —
    the pair join is calendar-bounded per group, never event-bounded.
    """
    from pyspark.sql import Window

    a = series.select(
        F.col(group_col),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__x"),
    )
    b = series.select(
        F.col(group_col),
        F.col(time_col).alias("__tj"),
        F.col(value_col).alias("__xj"),
    )
    sgn = F.when(F.col("__x") > F.col("__xj"), 1).when(
        F.col("__x") < F.col("__xj"), -1
    ).otherwise(0)
    v = (
        a.join(b, group_col)
        .filter(F.col("__t") != F.col("__tj"))
        .groupBy(group_col, "__t")
        .agg(F.sum(sgn).cast("long").alias("__v"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(group_col)
    u = (
        v.withColumn("__u", -F.sum("__v").over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(group_col).orderBy("__t")
        ))
        # candidate splits are t = 1 .. n-1 (a split after the last
        # point is no split; U_n = 0 identically)
        .filter(F.col("__rn") < F.col("__n"))
    )
    best = u.groupBy(group_col).agg(
        F.max("__n").alias("__n2"),
        F.max_by(
            F.struct(
                F.abs("__u").alias("k"),
                F.col("__u").alias("u"),
                F.col("__t").alias("t"),
            ),
            # argmax |U| with ties to the EARLIEST time: max_by on a
            # struct compares lexicographically, so negate a monotone
            # time rank to flip the tiebreak
            F.struct(F.abs("__u").alias("k"), (-F.col("__rn")).alias("r")),
        ).alias("__b"),
    )
    # __n counted the group's FULL series (the count window ran before
    # the rn < n candidate filter), so it IS n_points
    n = F.col("__n2").cast("double")
    k = F.col("__b.k").cast("double")
    p = 2.0 * F.exp(-6.0 * k * k / (n * n * n + n * n))
    return best.select(
        F.col(group_col),
        F.col("__n2").alias("n_points"),
        F.col("__b.t").alias("t_star"),
        F.col("__b.k").alias("k_stat"),
        F.col("__b.u").alias("u_stat"),
        F.round(F.least(p, F.lit(1.0)), 4).alias("p_approx"),
    )


def welch_ttest(
    values: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the A/B
    primitive: difference of means, the t statistic, and the
    Welch-Satterthwaite degrees of freedom, computed from exact
    decimal moment sums so the result is engine-portable.

    Moments accumulate as DECIMAL: the value casts to DECIMAL(38,6)
    (deterministic half-up, same contract as the _dsum helpers) and
    its square is exact decimal arithmetic, so n / sum / sum-of-squares
    are bit-identical in any engine; mean, variance, t, and df are
    then a fixed sequence of IEEE double ops. Two-sided significance
    is left to the caller's t-table — emitting ONE deterministic
    statistic beats baking in an incomplete-beta approximation.

    Output: one row — n/mean/var per side, mean_diff, t_stat, df.

    100 TB shape: one map-side-combined aggregation per side over a
    scan-stage filter; nothing else moves."""
    d = F.col(value_col).cast("decimal(38,6)")

    def side(tag: str, name: str) -> DataFrame:
        return (
            values.filter(
                (F.col(group_col) == name) & F.col(value_col).isNotNull()
            )
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.sum(d).alias(f"__s_{tag}"),
                F.sum(d * d).alias(f"__ss_{tag}"),
            )
        )
    j = side("a", group_a).crossJoin(side("b", group_b))
    out = j
    for tag in ("a", "b"):
        n = F.col(f"n_{tag}").cast("double")
        s = F.col(f"__s_{tag}").cast("double")
        ss = F.col(f"__ss_{tag}").cast("double")
        out = out.withColumn(f"__m_{tag}", s / n).withColumn(
            # sample variance via the exact-decimal moments:
            # (ss - n*m^2) / (n-1), every op double IEEE
            f"__v_{tag}",
            (ss - n * F.col(f"__m_{tag}") * F.col(f"__m_{tag}")) / (n - 1),
        )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    va_n = F.col("__v_a") / na
    vb_n = F.col("__v_b") / nb
    se = F.sqrt(va_n + vb_n)
    t = (F.col("__m_a") - F.col("__m_b")) / se
    df = (va_n + vb_n) * (va_n + vb_n) / (
        va_n * va_n / (na - 1) + vb_n * vb_n / (nb - 1)
    )
    return out.select(
        "n_a",
        F.round("__m_a", 4).alias("mean_a"),
        F.round("__v_a", 4).alias("var_a"),
        "n_b",
        F.round("__m_b", 4).alias("mean_b"),
        F.round("__v_b", 4).alias("var_b"),
        F.round(F.col("__m_a") - F.col("__m_b"), 4).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("df"),
    )


def lag_autocorr(
    series: DataFrame,
    group_col: str,
    time_index_col: str,
    value_col: str,
    lags: list[int],
) -> DataFrame:
    """Lag-k Pearson autocorrelation per group — seasonality and
    persistence detection over pre-aggregated series (lag 1 =
    day-over-day momentum, lag 7 = weekly cycle). ``time_index_col``
    is a DENSE integer index (0..n-1 per group, e.g. a datediff from
    the group's first day): the lag pairing is an equi-join on
    ``idx + k``, so gaps in the calendar are the caller's decision.

    Engine-portable determinism: series values are expected to carry
    bounded decimals (e.g. round(x, 4) daily sums), so every moment
    (sum x, sum y, sum xy, sum x^2, sum y^2 over the n-k lag pairs)
    accumulates EXACTLY in decimal; the correlation
    (p*Sxy - Sx*Sy) / (sqrt(p*Sxx - Sx^2) * sqrt(p*Syy - Sy^2))
    is then a fixed double sequence. NULL when fewer than 2 pairs or
    a degenerate (constant) side.

    100 TB shape: one self-equi-join per lag on the calendar-bounded
    series + a map-side-combined moment agg; events never join."""
    if not lags or any(k < 1 for k in lags):
        raise ValueError(f"lags must be positive, got {lags}")

    dec = "decimal(38,12)"
    # materialized: each lag's self-join consumes the series twice
    # (|lags| x 2 evaluations of the caller's corpus-scale daily
    # aggregate otherwise), and the stored frame is calendar-bounded —
    # the small-output/heavy-compute shape where a checkpoint pays
    base = materialize(
        series.select(
            F.col(group_col),
            F.col(time_index_col).alias("__i"),
            F.col(value_col).alias("__x"),
        )
    )
    outs = []
    for k in lags:
        lead = base.select(
            F.col(group_col),
            (F.col("__i") - k).alias("__i"),
            F.col("__x").alias("__y"),
        )
        xd, yd = F.col("__x").cast(dec), F.col("__y").cast(dec)
        m = (
            base.join(lead, [group_col, "__i"])
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("__p"),
                F.sum(xd).alias("__sx"),
                F.sum(yd).alias("__sy"),
                F.sum(xd * yd).alias("__sxy"),
                F.sum(xd * xd).alias("__sxx"),
                F.sum(yd * yd).alias("__syy"),
            )
        )
        p = F.col("__p").cast("double")
        sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
        sxy = F.col("__sxy").cast("double")
        sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
        denom_x = p * sxx - sx * sx
        denom_y = p * syy - sy * sy
        r = F.when(
            (F.col("__p") >= 2) & (denom_x > 0) & (denom_y > 0),
            F.round(
                (p * sxy - sx * sy) / (F.sqrt(denom_x) * F.sqrt(denom_y)), 4
            ),
        )
        outs.append(
            m.select(
                F.col(group_col),
                F.lit(k).alias("lag"),
                F.col("__p").alias("n_pairs"),
                r.alias("autocorr"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


HOLT_SCHEMA = (
    "g string, n_points bigint, level double, trend double, "
    "f1 double, f7 double"
)


def holt_linear_smooth(
    series: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per group (Holt 1957)
    — the workhorse short-horizon forecaster: level
    s_t = a*x_t + (1-a)*(s_{t-1} + b_{t-1}) and trend
    b_t = B*(s_t - s_{t-1}) + (1-B)*b_{t-1}, seeded s_1 = x_1,
    b_1 = x_2 - x_1. Output per group: the final level and trend and
    the h=1 / h=7 forecasts (s + h*b) as RAW doubles — callers round
    engine-side (F.round), never in Python, whose banker's rounding
    disagrees with SQL HALF_UP at decimal midpoints.

    The recursion is inherently sequential, so it runs as ONE
    ``applyInPandas`` pass per group — each group's series is
    CALENDAR-bounded (daily points), so a group is a few hundred
    floats regardless of corpus size; groups spread across executors.
    Engine portability: the loop is plain IEEE double arithmetic in
    the exact association a SQL engine uses, with NO intermediate
    rounding — both sides replay the identical op sequence, so a
    DuckDB recursive CTE lands on the same bits (pinned by the
    ev_holt_forecast oracle). Groups with a single point emit
    level = x_1, trend = 0.

    100 TB shape: aggregate the raw stream to the series FIRST
    (map-side combined); the smoothing pass moves |groups| x |days|
    rows through Arrow once."""
    if not 0.0 < alpha <= 1.0 or not 0.0 < beta <= 1.0:
        raise ValueError(f"alpha/beta must be in (0, 1], got {alpha}, {beta}")
    import pandas as pd

    om_a, om_b = 1.0 - alpha, 1.0 - beta

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        xs = [float(v) for v in pdf[value_col]]
        g = pdf[group_col].iloc[0]
        n = len(xs)
        if n == 1:
            s, b = xs[0], 0.0
        else:
            s, b = xs[0], xs[1] - xs[0]
            for t in range(1, n):
                s_new = alpha * xs[t] + om_a * (s + b)
                b = beta * (s_new - s) + om_b * b
                s = s_new
        return pd.DataFrame(
            {
                "g": [g],
                "n_points": [n],
                "level": [s],
                "trend": [b],
                "f1": [s + b],
                "f7": [s + 7 * b],
            }
        )

    out = series.groupBy(group_col).applyInPandas(fn, schema=HOLT_SCHEMA)
    return out.withColumnRenamed("g", group_col)


def theil_sen_trend(
    series: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen slope estimator per group — the robust trend LINE that
    pairs with :func:`mann_kendall`'s robust trend TEST (Theil 1950,
    Sen 1968): slope = MEDIAN of all pairwise slopes
    ``(x_j - x_i) / (t_j - t_i)``, intercept = median of
    ``x_i - slope * t_i``. Breaks down only past 29% outliers where
    OLS breaks at one. ``time_col`` must be numeric (e.g. day number);
    groups with a single point have no pairs and are absent.

    Output: ``(group, n_points, n_pairs, slope, intercept)``, slope
    and intercept rounded to 4 (each pairwise slope is one IEEE
    division, identical across engines; the median follows the
    percentile discipline the quantile queries already pin).

    100 TB shape: built for PRE-AGGREGATED series — the O(n_points²)
    pair join is calendar-bounded per group, never event-bounded; the
    intercept's second pass joins the one-row-per-group slope back to
    the points frame (broadcast). No windows, no Python.
    """
    a = series.select(
        F.col(group_col),
        F.col(time_col).alias("__t1"),
        F.col(value_col).alias("__x1"),
    )
    b = series.select(
        F.col(group_col),
        F.col(time_col).alias("__t2"),
        F.col(value_col).alias("__x2"),
    )
    pairs = a.join(b, group_col).filter(F.col("__t1") < F.col("__t2"))
    slope_expr = (F.col("__x2") - F.col("__x1")) / (
        F.col("__t2") - F.col("__t1")
    )
    sl = (
        pairs.withColumn("__sl", slope_expr)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(__sl, 0.5)"), 4).alias("slope"),
        )
    )
    n_points = series.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    resid = (
        series.join(sl.select(group_col, "slope"), group_col)
        .withColumn(
            "__r",
            F.col(value_col) - F.col("slope") * F.col(time_col),
        )
        .groupBy(group_col)
        .agg(F.round(F.expr("percentile(__r, 0.5)"), 4).alias("intercept"))
    )
    return (
        n_points.join(sl, group_col)
        .join(resid, group_col)
        .select(group_col, "n_points", "n_pairs", "slope", "intercept")
    )


def markov_transitions(
    ev: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    ndigits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: ``(src, dst, n_trans, p)`` where ``p`` row-normalizes
    counts to P(next=dst | cur=src). The behavioral-model primitive
    behind next-event prediction, journey analysis, and anomalous-
    session scoring (a session whose transitions are improbable under
    the fitted matrix is an outlier).

    Determinism: counts are integer-exact; ``p`` is a single division
    of exact integers, rounded — no accumulation-order hazard.

    100 TB shape: one window shuffle keyed by user (each user's
    events sort locally — millions of small partitions, no funnel),
    one map-side-combined count agg to a |types|^2 frame, then the
    row-normalizing window runs on that tiny post-agg frame.
    """
    from pydala2_spark.operators.graph import transition_edges

    e = transition_edges(
        ev, type_col=type_col, user_col=user_col, ts_col=ts_col, id_col=id_col
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("src")
    return e.select(
        "src",
        "dst",
        F.col("w").cast("long").alias("n_trans"),
        F.round(
            F.col("w").cast("double") / F.sum("w").over(tot).cast("double"),
            ndigits,
        ).alias("p"),
    )


def frequent_event_paths(
    ev: DataFrame,
    depth: int = 3,
    k: int = 25,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-``k`` most frequent length-``depth`` event-type paths
    (consecutive runs within a user's ordered sequence) — the
    sequential-pattern-mining shape (n-gram flavor of SPADE/
    PrefixSpan): "what do users actually do, in order?".

    Output ``(path, n_paths)`` with ``path`` like
    ``'view>click>purchase'``; ties broken by path text so the top-k
    is deterministic.

    100 TB shape: the same single per-user window shuffle as
    sessionization (``lead`` x (depth-1) rides one sort), a map-side-
    combined count agg to at most |types|^depth rows, then top-k is
    one TakeOrderedAndProject — no global sort of the input.
    """
    if depth < 2:
        raise ValueError(f"depth must be >= 2, got {depth}")
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, depth)
    ]
    # concat_ws silently SKIPS nulls (it would emit truncated paths at
    # sequence tails); require the last step non-null instead.
    path = F.concat_ws(">", *steps)
    return (
        ev.select(path.alias("path"), steps[-1].alias("__last"))
        .filter(F.col("__last").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path"))
        .limit(k)
    )


def kaplan_meier(
    ev: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_gap_days: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (first to last
    event, in days) with right-censoring: a user still active within
    ``censor_gap_days`` of the corpus end hasn't churned YET — their
    lifetime is a lower bound, and dropping or death-counting them
    (the naive averages) biases retention down. KM is the standard
    estimator that uses censored lifetimes correctly: at each distinct
    duration t, S(t) *= 1 - d_t/n_t over the at-risk population.

    Output: one row per distinct duration —
    ``(duration_days, n_at_risk, n_events, n_censored, survival)``.

    Determinism: the risk table is integer-exact (counts + cumulative
    counts); each ln(1 - d/n) factor rounds to 12 decimals and
    accumulates as DECIMAL(38,12) (the pagerank discipline), so the
    product is bit-stable in any engine. A final step where everyone
    remaining dies (d = n, only possible on the last row) yields
    survival 0 via an explicit CASE — no ln(0).

    100 TB shape: one per-user agg (map-side combined) reduces the
    corpus to |users| rows; the corpus-end bound attaches as a one-row
    broadcast; the risk table is one more agg to |distinct durations|
    rows (calendar-bounded — a few thousand at most), and the
    cumulative windows run on THAT tiny frame only.
    """
    from pyspark.sql import Window

    per_user = ev.groupBy(user_col).agg(
        F.min(F.to_date(ts_col)).alias("__first"),
        F.max(F.to_date(ts_col)).alias("__last"),
    )
    end = ev.agg(F.max(F.to_date(ts_col)).alias("__end"))
    lives = per_user.crossJoin(F.broadcast(end)).select(
        F.datediff("__last", "__first").cast("long").alias("t"),
        (
            F.datediff("__end", "__last") >= F.lit(censor_gap_days)
        ).cast("int").alias("observed"),
    )
    risk = lives.groupBy("t").agg(
        F.sum("observed").cast("long").alias("n_events"),
        F.sum(F.lit(1) - F.col("observed")).cast("long").alias("n_censored"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    # tiny post-agg frame (distinct durations): the global windows here
    # run over calendar-bounded rows, not the corpus
    risk = risk.withColumn(
        "n_at_risk",
        (
            F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(
                    Window.orderBy("t").rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
                F.lit(0),
            )
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w),
                F.lit(0),
            )
        ).cast("long"),
    )
    term = F.when(
        F.col("n_events") < F.col("n_at_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_events").cast("double")
                / F.col("n_at_risk").cast("double")
            ),
            12,
        ).cast("decimal(38,12)"),
    ).otherwise(F.lit(0).cast("decimal(38,12)"))
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn("__term", term)
        .withColumn(
            "survival",
            F.when(
                F.col("n_events") < F.col("n_at_risk"),
                F.round(
                    F.exp(F.sum("__term").over(cum).cast("double")), ndigits
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select(
            F.col("t").alias("duration_days"),
            "n_at_risk",
            "n_events",
            "n_censored",
            "survival",
        )
    )


def kaplan_meier_oracle_sql(
    events_sql: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_gap_days: int = 7,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`kaplan_meier` — identical risk table
    and the identical rounded-term decimal accumulation."""
    return f"""
    WITH pu AS (
      SELECT {user_col},
             min(CAST({ts_col} AS DATE)) AS f,
             max(CAST({ts_col} AS DATE)) AS l
      FROM ({events_sql}) GROUP BY {user_col}
    ), e AS (SELECT max(CAST({ts_col} AS DATE)) AS corpus_end
             FROM ({events_sql})),
    lives AS (
      SELECT CAST(l - f AS BIGINT) AS t,
             CASE WHEN corpus_end - l >= {censor_gap_days}
                  THEN 1 ELSE 0 END AS observed
      FROM pu, e
    ), risk0 AS (
      SELECT t, CAST(sum(observed) AS BIGINT) AS n_events,
             CAST(sum(1 - observed) AS BIGINT) AS n_censored
      FROM lives GROUP BY t
    ), risk AS (
      SELECT *,
             CAST(sum(n_events + n_censored) OVER ()
                  - coalesce(sum(n_events + n_censored) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM risk0
    ), terms AS (
      SELECT *,
             CASE WHEN n_events < n_at_risk
                  THEN CAST(round(ln(1.0 - CAST(n_events AS DOUBLE)
                                   / CAST(n_at_risk AS DOUBLE)), 12)
                            AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END AS term
      FROM risk
    )
    SELECT t AS duration_days, n_at_risk, n_events, n_censored,
           CASE WHEN n_events < n_at_risk
                THEN round(exp(CAST(sum(term) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS DOUBLE)), {ndigits})
                ELSE 0.0 END AS survival
    FROM terms
    """


def attribution_credit(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    window_days: int = 7,
    ndigits: int = 4,
) -> DataFrame:
    """Multi-touch attribution over an event log — per channel, the
    credit each of the four canonical models assigns: first-touch and
    last-touch conversion counts, linear (1/n per touch), and
    U-shaped position-based (40% first, 40% last, 20% split across
    the middle; 100%/50-50 for 1- and 2-touch paths).

    A conversion's path is every touch event by the same user in the
    ``window_days`` lookback ending strictly before the conversion.
    Fractional credits round to 12 decimals and accumulate as
    DECIMAL(38,12) (the pagerank discipline) so both engines sum
    identically; first/last flags and touch counts are integer-exact.

    100 TB shape: one equi-join on user_id (per-user fanout is
    touches x conversions for that user — bounded by per-user
    activity, never by corpus size), then per-conversion windows that
    share ONE hash exchange on the conversion id (millions of small
    groups, no funnel), then a map-side-combined groupBy channel.
    """
    from pyspark.sql import Window as W

    conv = events.filter(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("__u"),
        F.col("event_id").alias("__cid"),
        F.col("ts").alias("__cts"),
    )
    touch = events.filter(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("__u"),
        F.col("event_type").alias("channel"),
        "ts",
        "event_id",
    )
    lo = F.col("__cts") - F.expr(f"INTERVAL {int(window_days)} DAYS")
    pairs = touch.join(conv, "__u").filter(
        (F.col("ts") < F.col("__cts")) & (F.col("ts") >= lo)
    )
    w = W.partitionBy("__cid")
    wa = w.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wd = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = (
        pairs.withColumn(
            "__n", F.count(F.lit(1)).over(w.orderBy("ts").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing))
        )
        .withColumn("__ra", F.row_number().over(wa))
        .withColumn("__rd", F.row_number().over(wd))
    )
    dec = "decimal(38,12)"
    nd = F.col("__n").cast("double")
    lin = F.round(F.lit(1.0) / nd, 12).cast(dec)
    pos = F.round(
        F.when(F.col("__n") == 1, F.lit(1.0))
        .when(F.col("__n") == 2, F.lit(0.5))
        .when((F.col("__ra") == 1) | (F.col("__rd") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (nd - F.lit(2.0))),
        12,
    ).cast(dec)
    return r.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.when(F.col("__ra") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_first"),
        F.sum(F.when(F.col("__rd") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_last"),
        F.round(F.sum(lin).cast("double"), ndigits).alias("linear_credit"),
        F.round(F.sum(pos).cast("double"), ndigits).alias("position_credit"),
    )


def attribution_oracle_sql(
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    window_days: int = 7,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for :func:`attribution_credit` — identical
    rounded-term DECIMAL(38,12) accumulation, every fractional literal
    CAST to DOUBLE so decimal-typed literals can't shift a 12th digit."""
    tt = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
    WITH conv AS (
      SELECT event_id AS cid, user_id, ts AS cts
      FROM events WHERE event_type = '{conversion_type}'
    ), pairs AS (
      SELECT c.cid, e.event_type AS channel, e.ts, e.event_id
      FROM conv c JOIN events e ON e.user_id = c.user_id
      WHERE e.event_type IN ({tt})
        AND e.ts < c.cts
        AND e.ts >= c.cts - INTERVAL {int(window_days)} DAY
    ), r AS (
      SELECT channel,
             count(*) OVER (PARTITION BY cid) AS n,
             row_number() OVER (PARTITION BY cid
                                ORDER BY ts ASC, event_id ASC) AS ra,
             row_number() OVER (PARTITION BY cid
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM pairs
    )
    SELECT channel,
           count(*) AS n_touches,
           CAST(sum(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
           CAST(sum(CASE WHEN rd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
           round(CAST(sum(CAST(round(
             CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE), 12)
             AS DECIMAL(38,12))) AS DOUBLE), {ndigits}) AS linear_credit,
           round(CAST(sum(CAST(round(
             CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                  WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                  WHEN ra = 1 OR rd = 1 THEN CAST(0.4 AS DOUBLE)
                  ELSE CAST(0.2 AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)
             END, 12)
             AS DECIMAL(38,12))) AS DOUBLE), {ndigits}) AS position_credit
    FROM r GROUP BY channel
    """


def rfm_scores(
    events: DataFrame,
    purchase_type: str = "purchase",
    k: int = 5,
    ndigits: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation over
    the purchase log — the canonical customer-value grid. Per user:
    recency = whole days between their last purchase and the corpus'
    last purchase, frequency = purchase count, monetary = exact
    DECIMAL(38,6) spend. Each dimension scores 1..k by SQL-standard
    ntile (5 = best: most recent / most frequent / highest spend),
    with user_id as the deterministic tiebreaker. Output: one row per
    populated (r,f,m) cell with user count and mean spend.

    100 TB shape: one map-side-combined groupBy collapses the event
    log to the user grain (materialized — three downstream
    consumers must not re-run the scan); each score is a
    distributed_ntile = range shuffle + tiny offset aggregation on the
    USER frame, never a global window; the final cell rollup is
    <= k^3 rows."""
    from pydala2_spark.functions.skew import distributed_ntile

    p = events.filter(F.col("event_type") == purchase_type)
    mx = p.agg(F.max("ts").alias("__mx"))
    users = materialize(
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "recency_days",
            F.datediff(F.to_date("__mx"), F.to_date("__last")).cast("long"),
        )
        .drop("__mx", "__last"),
        "rfm_scores: users",
    )
    # checkpoint BETWEEN scoring passes, not just before the first:
    # each distributed_ntile references its input from several plan
    # branches (local window, per-partition counts, offset join), so
    # chaining three of them un-checkpointed compounds the lineage
    # (measured: 59 shuffle exchanges vs 17 with the checkpoints —
    # the triangle_counts disease in miniature)
    scored = materialize(
        distributed_ntile(
            users, [F.desc("recency_days"), F.asc("user_id")], k, out_col="r_score"
        ),
        "rfm_scores: recency scores",
    )
    scored = materialize(
        distributed_ntile(
            scored, [F.asc("frequency"), F.asc("user_id")], k, out_col="f_score"
        ),
        "rfm_scores: frequency scores",
    )
    scored = distributed_ntile(
        scored, [F.asc("monetary"), F.asc("user_id")], k, out_col="m_score"
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum("monetary").cast("double") / F.count(F.lit(1)), ndigits
        ).alias("avg_monetary"),
    )


def rfm_oracle_sql(
    purchase_type: str = "purchase", k: int = 5, ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`rfm_scores` — native ntile() windows
    over the same user-grain frame."""
    return f"""
    WITH p AS (
      SELECT user_id, ts, value FROM events
      WHERE event_type = '{purchase_type}'
    ), mx AS (SELECT max(ts) AS mts FROM p),
    u AS (
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE),
                       CAST((SELECT mts FROM mx) AS DATE)) AS recency_days,
             count(*) AS frequency,
             sum(CAST(value AS DECIMAL(38,6))) AS monetary
      FROM p GROUP BY user_id
    ), s AS (
      SELECT monetary,
             ntile({k}) OVER (ORDER BY recency_days DESC, user_id ASC)
               AS r_score,
             ntile({k}) OVER (ORDER BY frequency ASC, user_id ASC)
               AS f_score,
             ntile({k}) OVER (ORDER BY monetary ASC, user_id ASC)
               AS m_score
      FROM u
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_users,
           round(CAST(sum(monetary) AS DOUBLE) / count(*), {ndigits})
             AS avg_monetary
    FROM s GROUP BY 1, 2, 3
    """


def concurrency_sweep(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Peak concurrent sessions by sweep-line — the capacity-planning
    question ("how many sessions were ever open at once, and when did
    the peak first happen?"). Sessions are the 30-minute-gap intervals
    of ev_sessionization, [first event, last event]; the sweep emits
    +1 at each start and -1 at each end, ordered by (time,
    starts-before-ends, user, session) so touching intervals count as
    concurrent and the running sum is a deterministic total order.

    One row out: ``(n_intervals, peak_concurrency, first_peak_at)``
    (timestamp formatted to the second — raw timestamps are banned by
    the determinism contract).

    100 TB shape: sessionization is per-user windows on ONE hash
    exchange; the running sum is skew.distributed_prefix (range
    shuffle + broadcast offsets) — the global ORDER BY never funnels
    through one task; peak and first-peak reduce to one-row
    broadcasts."""
    from pyspark.sql import Window as W

    from pydala2_spark.functions.skew import distributed_prefix

    # NTZ parquet scans (Spark-written corpora read raw) can't cast
    # straight to BIGINT for the gap arithmetic — normalize first
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    ) > gap_minutes * 60
    flagged = events.withColumn(
        "__new", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    sess = materialize(
        flagged.withColumn(
            "__sid",
            F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "__sid")
        .agg(F.min("ts").alias("__s"), F.max("ts").alias("__e")),
        "concurrency_sweep: sessions",
    )
    # ONE scan of the session checkpoint emits both sweep deltas per
    # interval (explode), instead of a two-branch union scanning it
    # twice; the prefix re-sorts globally, so row order is immaterial
    deltas = sess.select(
        "user_id",
        "__sid",
        F.explode(
            F.array(
                F.struct(
                    F.col("__s").alias("t"),
                    F.lit(0).alias("pri"),
                    F.lit(1).cast("decimal(38,0)").alias("d"),
                ),
                F.struct(
                    F.col("__e").alias("t"),
                    F.lit(1).alias("pri"),
                    F.lit(-1).cast("decimal(38,0)").alias("d"),
                ),
            )
        ).alias("__ev"),
    ).select("user_id", "__sid", "__ev.t", "__ev.pri", "__ev.d")
    cum = materialize(
        distributed_prefix(
            deltas,
            [F.asc("t"), F.asc("pri"), F.asc("user_id"), F.asc("__sid")],
            sum_col="d",
            cum_col="__cum",
        ),
        "concurrency_sweep: running count",
    )
    # peak AND first-peak-time in ONE pass over the checkpoint: the
    # lexicographic max of (cum, -epoch_us) is (max cum, -min t among
    # argmax rows) — exact integer/decimal compare, no tie hazard
    pk = cum.agg(
        F.max(
            F.struct(
                F.col("__cum").alias("c"),
                (-F.unix_micros("t")).alias("negus"),
            )
        ).alias("__m")
    ).select(
        F.col("__m.c").alias("__peak"),
        F.timestamp_micros(-F.col("__m.negus")).alias("__ft"),
    )
    n_int = sess.agg(F.count(F.lit(1)).alias("n_intervals"))
    return n_int.crossJoin(F.broadcast(pk)).select(
        "n_intervals",
        F.col("__peak").cast("long").alias("peak_concurrency"),
        F.date_format("__ft", "yyyy-MM-dd HH:mm:ss").alias("first_peak_at"),
    )


def concurrency_oracle_sql(gap_minutes: int = 30) -> str:
    """DuckDB oracle for :func:`concurrency_sweep` — native global
    window over the same delta stream."""
    return f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL {int(gap_minutes)} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM gaps
    ), sess AS (
      SELECT user_id, sid, min(ts) AS s, max(ts) AS e
      FROM numbered GROUP BY 1, 2
    ), d AS (
      SELECT s AS t, 0 AS pri, 1 AS dlt, user_id, sid FROM sess
      UNION ALL
      SELECT e AS t, 1 AS pri, -1 AS dlt, user_id, sid FROM sess
    ), c AS (
      SELECT t, sum(dlt) OVER (ORDER BY t, pri, user_id, sid
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
      FROM d
    ), m AS (SELECT max(cum) AS peak FROM c)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sess) AS n_intervals,
           CAST(m.peak AS BIGINT) AS peak_concurrency,
           (SELECT strftime(min(t), '%Y-%m-%d %H:%M:%S')
            FROM c, m WHERE c.cum = m.peak) AS first_peak_at
    FROM m
    """


def anova_oneway(
    values: DataFrame, group_col: str, value_col: str, ndigits: int = 4
) -> DataFrame:
    """One-way ANOVA across ALL groups — the k-group generalization of
    :func:`welch_ttest` (classic equal-variance F test): between/within
    sums of squares, the F statistic, and eta-squared effect size.

    Per-group moments (n, sum, sum-of-squares) accumulate as exact
    DECIMAL(38,6) per the welch contract; the per-group SSB/SSW terms
    are then deterministic doubles that round to 12 decimals and sum
    as DECIMAL(38,12) over the k-row group frame.

    One row out: ``(k, n, ssb, ssw, f_stat, eta_sq)``. Significance is
    left to the caller's F-table (the welch_ttest rationale).

    100 TB shape: ONE map-side-combined aggregation to the k-row group
    frame (materialized: totals and terms both consume it);
    everything after is one-row broadcast arithmetic."""
    d = F.col(value_col).cast("decimal(38,6)")
    g = materialize(
        values.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d).alias("s"),
            F.sum(d * d).alias("ss"),
        ),
        "anova_oneway: groups",
    )
    t = g.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("m"),
    )
    dec = "decimal(38,12)"
    mg = F.col("s").cast("double") / F.col("n").cast("double")
    ssb_t = F.round(
        F.col("n").cast("double") * (mg - F.col("m")) * (mg - F.col("m")), 12
    ).cast(dec)
    ssw_t = F.round(
        F.col("ss").cast("double") - F.col("n").cast("double") * mg * mg, 12
    ).cast(dec)
    b = (
        g.crossJoin(F.broadcast(t))
        .agg(
            F.sum(ssb_t).cast("double").alias("ssb"),
            F.sum(ssw_t).cast("double").alias("ssw"),
        )
    )
    return t.crossJoin(F.broadcast(b)).select(
        "k",
        F.col("n_tot").alias("n"),
        F.round("ssb", ndigits).alias("ssb"),
        F.round("ssw", ndigits).alias("ssw"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_tot") - F.col("k"))),
            ndigits,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_sq"
        ),
    )


def anova_oracle_sql(
    table_sql: str, group_col: str, value_col: str, ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`anova_oneway` — identical decimal
    moments and rounded-term accumulation."""
    return f"""
    WITH g AS (
      SELECT {group_col} AS grp, count(*) AS n,
             sum(CAST({value_col} AS DECIMAL(38,6))) AS s,
             sum(CAST({value_col} AS DECIMAL(38,6))
                 * CAST({value_col} AS DECIMAL(38,6))) AS ss
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL GROUP BY 1
    ), t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS m
      FROM g
    ), b AS (
      SELECT
        CAST(sum(CAST(round(CAST(n AS DOUBLE)
          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - t.m)
          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - t.m), 12)
          AS DECIMAL(38,12))) AS DOUBLE) AS ssb,
        CAST(sum(CAST(round(CAST(ss AS DOUBLE)
          - CAST(n AS DOUBLE)
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 12)
          AS DECIMAL(38,12))) AS DOUBLE) AS ssw
      FROM g, t
    )
    SELECT t.k AS k, t.nn AS n,
           round(b.ssb, {ndigits}) AS ssb,
           round(b.ssw, {ndigits}) AS ssw,
           round((b.ssb / (t.k - 1)) / (b.ssw / (t.nn - t.k)), {ndigits})
             AS f_stat,
           round(b.ssb / (b.ssb + b.ssw), 6) AS eta_sq
    FROM t, b
    """


def cohort_ltv(events: DataFrame, purchase_type: str = "purchase") -> DataFrame:
    """Cohort lifetime-value triangle: users cohort by their FIRST
    purchase day; each (cohort, age) cell reports that day's revenue,
    the running cumulative, and cumulative LTV per cohort user — the
    payback-curve view that cohort_retention (activity) deliberately
    does not price.

    Revenue accumulates as DECIMAL(38,6) end to end (the cumulative
    window sums decimals, so partition boundaries cannot move a bit);
    day arithmetic is integer datediff on DATE grain.

    100 TB shape: the purchase log reduces to the |users| first-day
    frame (map-side min) and the |cohorts|x|ages| calendar-bounded
    cell frame; the cumulative window runs on THAT tiny frame,
    partitioned by cohort — no corpus-sized window anywhere."""
    from pyspark.sql import Window as W

    p = events.filter(F.col("event_type") == purchase_type).select(
        "user_id", F.to_date("ts").alias("__d"), "value"
    )
    first = p.groupBy("user_id").agg(F.min("__d").alias("cohort"))
    sz = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    g = (
        p.join(first, "user_id")
        .select(
            "cohort",
            F.datediff(F.col("__d"), F.col("cohort")).cast("long").alias(
                "age_days"
            ),
            F.col("value").cast("decimal(38,6)").alias("__v"),
        )
        .groupBy("cohort", "age_days")
        .agg(F.sum("__v").alias("__rev"))
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("age_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = g.withColumn("__cum", F.sum("__rev").over(w))
    return c.join(sz, "cohort").select(
        "cohort",
        "age_days",
        "n_users",
        F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        F.round(F.col("__cum").cast("double"), 2).alias("cum_revenue"),
        F.round(
            F.col("__cum").cast("double") / F.col("n_users").cast("double"), 4
        ).alias("ltv_per_user"),
    )


def cohort_ltv_oracle_sql(purchase_type: str = "purchase") -> str:
    """DuckDB oracle for :func:`cohort_ltv` — identical decimal
    accumulation and date arithmetic."""
    return f"""
    WITH p AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value FROM events
      WHERE event_type = '{purchase_type}'
    ), f AS (
      SELECT user_id, min(d) AS cohort FROM p GROUP BY 1
    ), sz AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM f GROUP BY 1
    ), g AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort, p.d) AS BIGINT) AS age_days,
             sum(CAST(p.value AS DECIMAL(38,6))) AS rev
      FROM p JOIN f USING (user_id) GROUP BY 1, 2
    ), c AS (
      SELECT cohort, age_days, rev,
             sum(rev) OVER (PARTITION BY cohort ORDER BY age_days
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM g
    )
    SELECT c.cohort, c.age_days, sz.n_users,
           round(CAST(c.rev AS DOUBLE), 2) AS revenue,
           round(CAST(c.cum AS DOUBLE), 2) AS cum_revenue,
           round(CAST(c.cum AS DOUBLE) / CAST(sz.n_users AS DOUBLE), 4)
             AS ltv_per_user
    FROM c JOIN sz USING (cohort)
    """


HW_SCHEMA = (
    "g string, n_points bigint, level double, trend double, "
    "season_next double, f1 double, f7 double"
)


def holt_winters_additive(
    series: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing per group
    — :func:`holt_linear_smooth` plus a length-``period`` seasonal
    state, the standard weekly-seasonality forecaster. Seeds: level =
    mean of the first period (explicit left-associated sum), trend =
    (mean of the second period - level) / period, seasonal_i =
    x_i - level; groups shorter than 2*period are dropped (no honest
    seed exists). The recursion from t = period+1:
    ``s' = a*(x - c_used) + (1-a)*(s + b)``,
    ``b' = B*(s' - s) + (1-B)*b``,
    ``c' = g*(x - s') + (1-g)*c_used``, with the seasonal vector
    rotating as a queue. Output adds the next day's seasonal factor
    and seasonal forecasts f1 = s+b+c_next, f7 = s+7b+c_{+7}.

    Engine portability is the holt contract: the loop is plain IEEE
    arithmetic in the exact association a recursive SQL CTE uses
    (s' appears textually inside b' and c' on both sides), no
    intermediate rounding, smoothing constants shared via repr —
    see holt_winters_oracle_sql.

    100 TB shape: identical to holt — aggregate to the
    calendar-bounded series first, one Arrow pass, groups scale out."""
    if not 0.0 < alpha <= 1.0 or not 0.0 < beta <= 1.0 or not 0.0 < gamma <= 1.0:
        raise ValueError(
            f"alpha/beta/gamma must be in (0, 1], got {alpha}, {beta}, {gamma}"
        )
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    import pandas as pd

    om_a, om_b, om_g = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        xs = [float(v) for v in pdf[value_col]]
        g = pdf[group_col].iloc[0]
        n = len(xs)
        if n < 2 * period:
            return pd.DataFrame(
                columns=["g", "n_points", "level", "trend",
                         "season_next", "f1", "f7"]
            )
        acc = xs[0]
        for x in xs[1:period]:
            acc = acc + x
        s = acc / float(period)
        acc2 = xs[period]
        for x in xs[period + 1 : 2 * period]:
            acc2 = acc2 + x
        b = (acc2 / float(period) - s) / float(period)
        sc = [x - s for x in xs[:period]]
        for x in xs[period:]:
            c_used = sc[0]
            s_new = alpha * (x - c_used) + om_a * (s + b)
            b = beta * (s_new - s) + om_b * b
            c_new = gamma * (x - s_new) + om_g * c_used
            s = s_new
            sc = sc[1:] + [c_new]
        return pd.DataFrame(
            {
                "g": [g],
                "n_points": [n],
                "level": [s],
                "trend": [b],
                "season_next": [sc[0]],
                "f1": [s + b + sc[0]],
                "f7": [s + 7.0 * b + sc[period - 1]],
            }
        )

    out = series.groupBy(group_col).applyInPandas(fn, schema=HW_SCHEMA)
    return out.withColumnRenamed("g", group_col)


def holt_winters_oracle_sql(
    daily_sql: str,
    group_col: str = "event_type",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for :func:`holt_winters_additive` — the seasonal
    recursion as a recursive CTE carrying the rotating seasonal LIST;
    ``daily_sql`` must yield (grp, day, x). Smoothing constants are
    injected via repr so both engines multiply by the identical
    doubles."""
    a, oa = repr(alpha), repr(1.0 - alpha)
    bb, ob = repr(beta), repr(1.0 - beta)
    gg, og = repr(gamma), repr(1.0 - gamma)
    m = period
    xcols = ", ".join(
        f"max(CASE WHEN t = {i} THEN x END) AS x{i}" for i in range(1, 2 * m + 1)
    )
    s0 = "(" * (m - 1) + "x1" + "".join(f" + x{i})" for i in range(2, m + 1))
    s0 = f"({s0} / {float(m)!r})"
    m2 = "(" * (m - 1) + f"x{m + 1}" + "".join(
        f" + x{i})" for i in range(m + 2, 2 * m + 1)
    )
    m2 = f"({m2} / {float(m)!r})"
    sc0 = "[" + ", ".join(f"x{i} - {s0}" for i in range(1, m + 1)) + "]"
    s_new = f"{a} * (d.x - hw.sc[1]) + {oa} * (hw.s + hw.b)"
    return f"""
    WITH RECURSIVE d0 AS ({daily_sql}),
    d AS (
      SELECT grp, x,
             row_number() OVER (PARTITION BY grp ORDER BY day) AS t,
             count(*) OVER (PARTITION BY grp) AS n
      FROM d0
    ), piv AS (
      SELECT grp, max(n) AS n, {xcols}
      FROM d GROUP BY grp HAVING max(n) >= {2 * m}
    ), seed AS (
      SELECT grp, n, {s0} AS s,
             ({m2} - {s0}) / {float(m)!r} AS b,
             {sc0} AS sc
      FROM piv
    ), hw(grp, n, t, s, b, sc) AS (
      SELECT grp, n, {m}, s, b, sc FROM seed
      UNION ALL
      SELECT hw.grp, hw.n, hw.t + 1,
             {s_new},
             {bb} * (({s_new}) - hw.s) + {ob} * hw.b,
             list_append(hw.sc[2:{m}],
               {gg} * (d.x - ({s_new})) + {og} * hw.sc[1])
      FROM hw JOIN d ON d.grp = hw.grp AND d.t = hw.t + 1
    )
    SELECT grp AS {group_col}, CAST(n AS BIGINT) AS n_points,
           round(s, {ndigits}) AS level, round(b, {ndigits}) AS trend,
           round(sc[1], {ndigits}) AS season_next,
           round(s + b + sc[1], {ndigits}) AS f1,
           round(s + 7.0 * b + sc[{m}], {ndigits}) AS f7
    FROM hw WHERE t = n
    """


# -- periodogram ---------------------------------------------------------


def periodogram(
    events: DataFrame,
    periods: list[int],
    ts_col: str = "ts",
    ndigits: int = 4,
) -> DataFrame:
    """Discrete-Fourier power at chosen candidate periods over the
    HOURLY event-count series — cycle detection that names the period
    (daily = 24, weekly = 168) instead of lag_autocorr's yes/no at a
    chosen lag. Power(p) = (Σ (x_t - x̄)·cos(2πt/p))² +
    (Σ (x_t - x̄)·sin(2πt/p))², normalized by n.

    Cross-engine determinism without trusting libm: cos/sin depend
    only on ``t mod p``, so the Σp distinct weights are computed ONCE
    in PYTHON (full-repr literals) and joined on ``(p, t % p)`` — both
    engines multiply by bit-identical constants; products round-12
    then accumulate as DECIMAL(38,12) (pagerank discipline).

    100 TB shape: one map-side-combined groupBy to the calendar-
    bounded hourly frame; the weight join is |hours|x|periods| rows
    against a broadcast literal table; one final |periods|-group agg.
    """
    import math

    if not periods or any(p < 2 for p in periods):
        raise ValueError(f"periods must be >= 2, got {periods}")
    spark = events.sparkSession
    hours = (
        events.select(
            (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600)
            .cast("long")
            .alias("__h")
        )
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__x"))
    )
    lo = hours.agg(
        F.min("__h").alias("__h0"),
        F.sum("__x").cast("double").alias("__sx"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    base = hours.crossJoin(F.broadcast(lo)).select(
        (F.col("__h") - F.col("__h0")).alias("t"),
        (F.col("__x").cast("double") - F.col("__sx") / F.col("__n"))
        .alias("xd"),
        F.col("__n").alias("n_points"),
    )
    wrows = [
        (p, r, math.cos(2.0 * math.pi * r / p), math.sin(2.0 * math.pi * r / p))
        for p in periods
        for r in range(p)
    ]
    w = spark.createDataFrame(wrows, "p long, r long, cw double, sw double")
    dec = "decimal(38,12)"
    terms = (
        base.join(
            F.broadcast(w),
            F.pmod(F.col("t"), F.col("p")) == F.col("r"),
        )
        .select(
            "p",
            "n_points",
            F.round(F.col("xd") * F.col("cw"), 12).cast(dec).alias("ct"),
            F.round(F.col("xd") * F.col("sw"), 12).cast(dec).alias("st"),
        )
    )
    g = terms.groupBy("p", "n_points").agg(
        F.sum("ct").cast("double").alias("c"),
        F.sum("st").cast("double").alias("s"),
    )
    return g.select(
        F.col("p").alias("period"),
        "n_points",
        F.round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n_points").cast("double"),
            ndigits,
        ).alias("power"),
    )


def periodogram_oracle_sql(
    periods: list[int], ts_col: str = "ts", ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`periodogram` — the identical literal
    weight table (generated by the same Python math calls, so the
    constants match to the bit), hour indexing, and decimal ladder."""
    import math

    vals = ",\n        ".join(
        f"({p}, {r}, {math.cos(2.0 * math.pi * r / p)!r},"
        f" {math.sin(2.0 * math.pi * r / p)!r})"
        for p in periods
        for r in range(p)
    )
    return f"""
    WITH hours AS (
      SELECT CAST(epoch(date_trunc('hour', {ts_col})) / 3600 AS BIGINT)
               AS h, count(*) AS x
      FROM events GROUP BY 1
    ), lo AS (
      SELECT min(h) AS h0, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(count(*) AS BIGINT) AS n
      FROM hours
    ), base AS (
      SELECT h - h0 AS t, CAST(x AS DOUBLE) - sx / n AS xd, n AS n_points
      FROM hours CROSS JOIN lo
    ), w(p, r, cw, sw) AS (
      VALUES
        {vals}
    ), terms AS (
      SELECT p, n_points,
             CAST(round(xd * cw, 12) AS DECIMAL(38,12)) AS ct,
             CAST(round(xd * sw, 12) AS DECIMAL(38,12)) AS st
      FROM base JOIN w ON t % p = r
    )
    SELECT p AS period, n_points,
           round((CAST(sum(ct) AS DOUBLE) * CAST(sum(ct) AS DOUBLE)
                  + CAST(sum(st) AS DOUBLE) * CAST(sum(st) AS DOUBLE))
                 / CAST(n_points AS DOUBLE), {ndigits}) AS power
    FROM terms GROUP BY p, n_points
    """


# -- Granger-style lead-lag screen --------------------------------------


def granger_lag_f(
    events: DataFrame,
    y_type: str,
    x_type: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    ndigits: int = 4,
) -> DataFrame:
    """Granger-style lead-lag screen at lag 1 over daily value sums:
    does yesterday's ``x_type`` activity explain today's ``y_type``
    beyond yesterday's own value? Fits the restricted model
    ``y_t = a + b·y_{t-1}`` and the full ``y_t = a + b·y_{t-1} +
    c·x_{t-1}`` in closed form (3x3 normal equations via Cramer's
    rule) and reports the incremental-F statistic — the classical
    pre-test before anyone builds a cross-series forecasting feature.

    Determinism: daily sums accumulate as DECIMAL(38,6); all nine
    sufficient statistics are exact decimal sums of decimal products;
    the Cramer / RSS / F derivation is one fixed double-expression
    sequence both engines evaluate identically.

    One row out: ``(n_pairs, beta_ylag, beta_xlag, f_stat)``.

    100 TB shape: two map-side-combined daily groupBys, calendar-
    bounded equi-joins (day and day-1), one single-row moment
    aggregate. Events never self-join at row grain.
    """
    d6 = "decimal(38,6)"
    dec = "decimal(38,12)"

    def daily(t: str, out: str) -> DataFrame:
        return (
            events.filter(F.col(type_col) == t)
            .groupBy(F.to_date(F.col(ts_col)).alias("d"))
            .agg(F.sum(F.col(value_col).cast(d6)).alias(out))
        )

    ys = daily(y_type, "yv")
    xs = daily(x_type, "xv")
    cur = ys.select(F.col("d"), F.col("yv").alias("y"))
    prev = ys.select(F.date_add(F.col("d"), 1).alias("d"), F.col("yv").alias("yl")).join(
        xs.select(F.date_add(F.col("d"), 1).alias("d"), F.col("xv").alias("xl")),
        "d",
    )
    j = cur.join(prev, "d")
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("yl").cast(dec)).alias("s1"),
        F.sum(F.col("xl").cast(dec)).alias("s2"),
        F.sum((F.col("yl") * F.col("yl")).cast(dec)).alias("s11"),
        F.sum((F.col("xl") * F.col("xl")).cast(dec)).alias("s22"),
        F.sum((F.col("yl") * F.col("xl")).cast(dec)).alias("s12"),
        F.sum((F.col("y") * F.col("yl")).cast(dec)).alias("sy1"),
        F.sum((F.col("y") * F.col("xl")).cast(dec)).alias("sy2"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sy, s1, s2 = (F.col(c).cast("double") for c in ("sy", "s1", "s2"))
    s11, s22, s12 = (F.col(c).cast("double") for c in ("s11", "s22", "s12"))
    sy1, sy2, syy = (F.col(c).cast("double") for c in ("sy1", "sy2", "syy"))
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    a_f = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (sy1 * s22 - s12 * sy2)
        + s2 * (sy1 * s12 - s11 * sy2)
    ) / det
    b_f = (
        n * (sy1 * s22 - s12 * sy2)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * sy2 - sy1 * s2)
    ) / det
    c_f = (
        n * (s11 * sy2 - sy1 * s12)
        - s1 * (s1 * sy2 - sy1 * s2)
        + sy * (s1 * s12 - s11 * s2)
    ) / det
    rss_f = syy - a_f * sy - b_f * sy1 - c_f * sy2
    b_r = (n * sy1 - sy * s1) / (n * s11 - s1 * s1)
    a_r = (sy - b_r * s1) / n
    rss_r = syy - a_r * sy - b_r * sy1
    f_stat = (rss_r - rss_f) * (n - F.lit(3.0)) / rss_f
    ok = (F.col("n") >= 4) & (det != 0) & (rss_f > 0)
    return m.select(
        F.col("n").alias("n_pairs"),
        F.round(F.when(ok, b_f), ndigits).alias("beta_ylag"),
        F.round(F.when(ok, c_f), ndigits).alias("beta_xlag"),
        F.round(F.when(ok, f_stat), ndigits).alias("f_stat"),
    )


def granger_oracle_sql(
    y_type: str,
    x_type: str,
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for :func:`granger_lag_f` — identical decimal
    moments and the identical Cramer/RSS/F double sequence."""
    return f"""
    WITH ys AS (
      SELECT date_trunc('day', ts) AS d,
             sum(CAST(value AS DECIMAL(38,6))) AS yv
      FROM events WHERE event_type = '{y_type}' GROUP BY 1
    ), xs AS (
      SELECT date_trunc('day', ts) AS d,
             sum(CAST(value AS DECIMAL(38,6))) AS xv
      FROM events WHERE event_type = '{x_type}' GROUP BY 1
    ), j AS (
      SELECT c.yv AS y, p.yv AS yl, q.xv AS xl
      FROM ys c
      JOIN ys p ON p.d + INTERVAL 1 DAY = c.d
      JOIN xs q ON q.d + INTERVAL 1 DAY = c.d
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y AS DECIMAL(38,12))) AS sy,
             sum(CAST(yl AS DECIMAL(38,12))) AS s1,
             sum(CAST(xl AS DECIMAL(38,12))) AS s2,
             sum(CAST(yl * yl AS DECIMAL(38,12))) AS s11,
             sum(CAST(xl * xl AS DECIMAL(38,12))) AS s22,
             sum(CAST(yl * xl AS DECIMAL(38,12))) AS s12,
             sum(CAST(y * yl AS DECIMAL(38,12))) AS sy1,
             sum(CAST(y * xl AS DECIMAL(38,12))) AS sy2,
             sum(CAST(y * y AS DECIMAL(38,12))) AS syy
      FROM j
    ), dd AS (
      SELECT n,
             CAST(n AS DOUBLE) AS nd, CAST(sy AS DOUBLE) AS sy,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
             CAST(s12 AS DOUBLE) AS s12, CAST(sy1 AS DOUBLE) AS sy1,
             CAST(sy2 AS DOUBLE) AS sy2, CAST(syy AS DOUBLE) AS syy
      FROM m
    ), k AS (
      SELECT *,
        (nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)) AS det
      FROM dd
    ), cf AS (
      SELECT *,
        (sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2)
         + s2 * (sy1 * s12 - s11 * sy2)) / det AS a_f,
        (nd * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2)
         + s2 * (s1 * sy2 - sy1 * s2)) / det AS b_f,
        (nd * (s11 * sy2 - sy1 * s12) - s1 * (s1 * sy2 - sy1 * s2)
         + sy * (s1 * s12 - s11 * s2)) / det AS c_f,
        (nd * sy1 - sy * s1) / (nd * s11 - s1 * s1) AS b_r
      FROM k
    ), r AS (
      SELECT *,
        syy - a_f * sy - b_f * sy1 - c_f * sy2 AS rss_f,
        syy - ((sy - b_r * s1) / nd) * sy - b_r * sy1 AS rss_r
      FROM cf
    )
    SELECT n AS n_pairs,
           round(CASE WHEN n >= 4 AND det <> 0 AND rss_f > 0
                      THEN b_f END, {ndigits}) AS beta_ylag,
           round(CASE WHEN n >= 4 AND det <> 0 AND rss_f > 0
                      THEN c_f END, {ndigits}) AS beta_xlag,
           round(CASE WHEN n >= 4 AND det <> 0 AND rss_f > 0
                      THEN (rss_r - rss_f) * (nd - 3.0) / rss_f
                 END, {ndigits}) AS f_stat
    FROM r
    """


# -- seasonal decomposition ----------------------------------------------


def seasonal_decompose_dow(
    events: DataFrame,
    ts_col: str = "ts",
    ndigits: int = 6,
) -> DataFrame:
    """Additive STL-lite decomposition of the daily event-count
    series: trend = centered 7-day moving average (full windows only),
    seasonal = per-day-of-week mean of the detrended residual — the
    decomposition that separates "Mondays are slow" from "the corpus
    is growing", where ev_dow_seasonality's raw per-dow means conflate
    the two.

    Output: one row per day-of-week ``(dow, n_days, seasonal)`` with
    Spark's dayofweek convention (1 = Sunday .. 7 = Saturday).

    Determinism: daily counts are exact longs; the 7-day mean is one
    double division of an exact integer sum; residuals round-6 then
    accumulate as DECIMAL(38,6).

    100 TB shape: one map-side-combined groupBy to the calendar-
    bounded daily frame; the moving average is a +-3-day range
    equi-join on that frame (7 rows per day), not a window funnel.
    """
    daily = (
        events.select(F.to_date(F.col(ts_col)).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    left = daily.select(F.col("d"), F.col("x"))
    right = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    win = left.join(
        right,
        (F.col("d2") >= F.date_sub(F.col("d"), 3))
        & (F.col("d2") <= F.date_add(F.col("d"), 3)),
    )
    trend = (
        win.groupBy("d", "x")
        .agg(F.count(F.lit(1)).alias("k"), F.sum("x2").alias("sx"))
        .filter(F.col("k") == 7)
        .select(
            "d",
            (
                F.col("x").cast("double")
                - F.col("sx").cast("double") / F.lit(7.0)
            ).alias("resid"),
        )
    )
    res = trend.select(
        F.dayofweek("d").alias("dow"),
        F.round(F.col("resid"), 6).cast("decimal(38,6)").alias("r6"),
    )
    return (
        res.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum("r6").cast("double") / F.count(F.lit(1)), ndigits
            ).alias("seasonal"),
        )
        .select("dow", "n_days", "seasonal")
    )


def seasonal_decompose_oracle_sql(ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`seasonal_decompose_dow` — identical
    range join, full-window filter, and round-6 decimal ladder;
    dayofweek shifted to Spark's 1=Sunday convention."""
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, count(*) AS x
      FROM events GROUP BY 1
    ), win AS (
      SELECT a.d, a.x, count(*) AS k, sum(b.x) AS sx
      FROM daily a JOIN daily b
        ON b.d >= a.d - INTERVAL 3 DAY AND b.d <= a.d + INTERVAL 3 DAY
      GROUP BY a.d, a.x
    ), resid AS (
      SELECT dayofweek(d) + 1 AS dow,
             CAST(round(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / 7.0, 6)
                  AS DECIMAL(38,6)) AS r6
      FROM win WHERE k = 7
    )
    SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(r6) AS DOUBLE) / count(*), {ndigits}) AS seasonal
    FROM resid GROUP BY dow
    """


def seasonal_anomaly_days(
    events: DataFrame,
    ts_col: str = "ts",
    z_cut: float = 3.0,
    ndigits: int = 4,
) -> DataFrame:
    """Seasonally-adjusted anomaly screen over the daily count series:
    remove the 7-day centered-MA trend and the day-of-week seasonal
    index (the :func:`seasonal_decompose_dow` pieces), THEN apply the
    robust median/MAD z-score to the remainder — so a quiet Sunday is
    not an "anomaly" and a genuinely bad Tuesday is not hidden inside
    the weekly cycle (both failure modes of the raw-daily screen in
    :func:`anomaly_days`).

    The trend is the 7-day window MEDIAN, not the mean: a one-day
    spike contaminates a centered mean for its six neighbors (they
    all read as dips), while the median trend absorbs it — the
    robust-STL choice, and exact on 7 values in both engines.

    Output: ``(day, x, remainder, z, is_anomaly)`` for every
    full-window day, z rounded to ``ndigits`` (NULL when MAD is 0).

    100 TB shape: one map-side-combined daily reduce; the trend is a
    +-3-day range equi-join on that frame; seasonal index and
    median/MAD work on the calendar-bounded remainder frame (one
    window partitioning — bounded rows, not a corpus funnel).
    """
    from pyspark.sql import Window

    daily = (
        events.select(F.to_date(F.col(ts_col)).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    right = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    win = daily.join(
        right,
        (F.col("d2") >= F.date_sub(F.col("d"), 3))
        & (F.col("d2") <= F.date_add(F.col("d"), 3)),
    )
    detr = (
        win.groupBy("d", "x")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.percentile("x2", F.lit(0.5)).alias("med7"),
        )
        .filter(F.col("k") == 7)
        .select(
            "d",
            "x",
            F.round(
                F.col("x").cast("double") - F.col("med7"), 6
            ).alias("resid"),
        )
    )
    dow = detr.select(
        "d",
        "x",
        "resid",
        F.dayofweek("d").alias("dw"),
        F.col("resid").cast("decimal(38,6)").alias("r6"),
    )
    w_dw = Window.partitionBy("dw")
    seas = dow.withColumn(
        "seasonal",
        F.round(
            F.sum("r6").over(w_dw).cast("double")
            / F.count(F.lit(1)).over(w_dw),
            6,
        ),
    ).select(
        "d",
        "x",
        F.round(F.col("resid") - F.col("seasonal"), 6).alias("remainder"),
    )
    w_all = Window.partitionBy()
    med = F.percentile("remainder", F.lit(0.5)).over(w_all)
    scored = seas.withColumn("__med", med).withColumn(
        "__dev", F.abs(F.col("remainder") - F.col("__med"))
    )
    mad = F.percentile("__dev", F.lit(0.5)).over(w_all)
    out = scored.withColumn("__mad", mad).select(
        "d",
        "x",
        "remainder",
        F.round(
            F.when(
                F.col("__mad") > 0,
                (F.col("remainder") - F.col("__med"))
                / (F.col("__mad") * F.lit(1.4826)),
            ),
            ndigits,
        ).alias("z"),
    )
    return out.select(
        F.col("d").alias("day"),
        "x",
        "remainder",
        "z",
        (F.abs(F.col("z")) > z_cut).alias("is_anomaly"),
    )


def seasonal_anomaly_oracle_sql(z_cut: float = 3.0, ndigits: int = 4) -> str:
    """DuckDB oracle for :func:`seasonal_anomaly_days` — identical MA
    range join, dow adjustment, and median/MAD ladder."""
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
      FROM events GROUP BY 1
    ), win AS (
      SELECT a.d, a.x, count(*) AS k,
             quantile_cont(CAST(b.x AS DOUBLE), 0.5) AS med7
      FROM daily a JOIN daily b
        ON b.d >= a.d - INTERVAL 3 DAY AND b.d <= a.d + INTERVAL 3 DAY
      GROUP BY a.d, a.x
    ), detr AS (
      SELECT d, x,
             round(CAST(x AS DOUBLE) - med7, 6) AS resid
      FROM win WHERE k = 7
    ), seas AS (
      SELECT d, x,
             round(resid - round(
               CAST(sum(CAST(resid AS DECIMAL(38,6)))
                    OVER (PARTITION BY dayofweek(d)) AS DOUBLE)
               / count(*) OVER (PARTITION BY dayofweek(d)), 6), 6)
               AS remainder
      FROM detr
    ), med AS (
      SELECT *, quantile_cont(remainder, 0.5) OVER () AS m FROM seas
    ), mad AS (
      SELECT *, quantile_cont(abs(remainder - m), 0.5) OVER () AS s
      FROM med
    )
    SELECT d AS day, x, remainder,
           round(CASE WHEN s > 0
                      THEN (remainder - m) / (s * 1.4826) END, {ndigits})
             AS z,
           (abs(round(CASE WHEN s > 0
                           THEN (remainder - m) / (s * 1.4826)
                      END, {ndigits})) > {z_cut!r}) AS is_anomaly
    FROM mad
    """


def active_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-active-day streak per user, summarized as a
    histogram ``(streak_len, n_users)`` — the engagement/habit metric
    next to cohort retention's calendar view. Classic gaps-and-islands:
    group key = active_day - row_number (consecutive days share it),
    island length = count, per-user max, then one histogram groupBy.

    100 TB shape: events reduce map-side to |user|x|days| distinct
    rows; the row_number window partitions BY USER (keyed shuffle,
    thousands of tasks — not a global funnel); everything after is
    map-side-combined aggregation.
    """
    from pyspark.sql import Window

    days = (
        events.select(
            F.col(user_col).alias("u"), F.to_date(F.col(ts_col)).alias("d")
        )
        .distinct()
    )
    w = Window.partitionBy("u").orderBy("d")
    islands = days.withColumn(
        "g", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("u", "g").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = streaks.groupBy("u").agg(F.max("len").alias("streak_len"))
    return (
        best.groupBy("streak_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select("streak_len", "n_users")
    )


def active_streaks_oracle_sql() -> str:
    """DuckDB oracle for :func:`active_streaks` — identical
    gaps-and-islands construction."""
    return """
    WITH days AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), islands AS (
      SELECT u, d,
             d - CAST(row_number() OVER (PARTITION BY u ORDER BY d)
                      AS INTEGER) AS g
      FROM days
    ), streaks AS (
      SELECT u, g, count(*) AS len FROM islands GROUP BY u, g
    ), best AS (
      SELECT u, max(len) AS streak_len FROM streaks GROUP BY u
    )
    SELECT streak_len, CAST(count(*) AS BIGINT) AS n_users
    FROM best GROUP BY streak_len
    """


def dau_wau_mau(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    ndigits: int = 4,
) -> DataFrame:
    """Daily / trailing-7-day / trailing-30-day active users plus the
    DAU/MAU stickiness ratio, per calendar day — the canonical product
    engagement rollup. Each trailing window is an EXPLODE of a
    day-offset sequence over the reduced user-day grain (a user active
    on day d contributes membership rows for days d..d+w-1), then the
    two-phase distinct — never a distinct over a sliding window of raw
    events, and never a range join.

    Output: ``(day, dau, wau, mau, stickiness)``.

    100 TB shape: events reduce map-side to |user|x|days| rows once
    (lazily checkpointed — the three legs read the stored copy, not the
    scan); each trailing leg is a strictly bounded x7 / x30 row fan-out
    followed by dropDuplicates + groupBy (both shuffles hash-partition
    on equi keys, skew-tolerant). The r11 shape — a pure-range join of
    the user-day grain against the calendar frame — planned as a
    broadcast nested-loop join: every user-day row compared against
    EVERY calendar day, a ~|days|x constant on the dominant frame where
    this x7/x30 fan-out suffices; the sweep in tests/test_verbs_plans
    now DENIES nested-loop joins here. Trailing counts generated for
    days past the observed calendar are dropped by the final inner
    join on the dau leg.
    """

    ud = materialize(
        events.select(
            F.to_date(F.col(ts_col)).alias("d"), F.col(user_col).alias("u")
        ).distinct()
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing(window: int, out: str) -> DataFrame:
        fan = ud.select(
            F.col("d").alias("d0"),
            "u",
            F.explode(F.sequence(F.lit(0), F.lit(window - 1))).alias("off"),
        ).select(F.date_add(F.col("d0"), F.col("off")).alias("d"), "u")
        return (
            fan.dropDuplicates(["d", "u"])
            .groupBy("d")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    out = (
        dau.join(trailing(7, "wau"), "d")
        .join(trailing(30, "mau"), "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"),
                ndigits,
            ).alias("stickiness"),
        )
    )
    return out


def dau_wau_mau_oracle_sql(ndigits: int = 4) -> str:
    """DuckDB oracle for :func:`dau_wau_mau` — identical user-day
    grain and trailing range joins."""
    return f"""
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
             user_id AS u
      FROM events
    ), days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
    wau AS (
      SELECT days.d, CAST(count(DISTINCT ud.u) AS BIGINT) AS wau
      FROM days JOIN ud ON ud.d <= days.d AND ud.d >= days.d - 6
      GROUP BY days.d
    ), mau AS (
      SELECT days.d, CAST(count(DISTINCT ud.u) AS BIGINT) AS mau
      FROM days JOIN ud ON ud.d <= days.d AND ud.d >= days.d - 29
      GROUP BY days.d
    )
    SELECT dau.d AS day, dau.dau, wau.wau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE),
                 {ndigits}) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
    """


def growth_accounting(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    ndigits: int = 4,
) -> DataFrame:
    """Weekly growth accounting: every active user classified as NEW
    (first-ever week), RETAINED (also active the prior week), or
    RESURRECTED (seen before, but not last week), plus the prior
    week's CHURNED count and the quick ratio
    ``(new + resurrected) / churned`` — the canonical
    new/retained/resurrected/churned decomposition a growth team reads
    before any topline MAU number (the same grain social-capital-style
    growth accounting uses).

    Output: one row per observed week —
    ``(week, active, new_users, retained, resurrected, churned,
    quick_ratio)``. ``churned`` at week w counts users active in w-7
    but not in w; weeks with no events at all produce no row (their
    churn folds into the next OBSERVED week only if exactly 7 days
    later — documented grain limit).

    100 TB shape: events reduce map-side to the |user|x|weeks| grain
    once (lazily checkpointed; all four legs read the stored copy);
    first-seen weeks are one groupBy; the prior-week flag and the
    churn count are equi-joins on (week, user) — no windows, no range
    joins, everything hash-partitions on bounded-skew keys.
    """

    uw = materialize(
        events.select(
            F.date_trunc("week", F.col(ts_col)).cast("date").alias("w"),
            F.col(user_col).alias("u"),
        ).distinct()
    )
    first = uw.groupBy("u").agg(F.min("w").alias("fw"))
    prev = uw.select(
        F.date_add(F.col("w"), 7).alias("w"), "u", F.lit(1).alias("__p")
    )
    cur = uw.join(prev, ["w", "u"], "left").join(first, "u")
    per = cur.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("active"),
        F.count(F.when(F.col("fw") == F.col("w"), F.lit(1)))
        .cast("long")
        .alias("new_users"),
        F.count(F.when(F.col("__p").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("retained"),
        F.count(
            F.when(
                F.col("__p").isNull() & (F.col("fw") < F.col("w")), F.lit(1)
            )
        )
        .cast("long")
        .alias("resurrected"),
    )
    ch = (
        prev.select("w", "u")
        .join(uw, ["w", "u"], "left_anti")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("__ch"))
    )
    return per.join(ch, "w", "left").select(
        F.col("w").alias("week"),
        "active",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce(F.col("__ch"), F.lit(0).cast("long")).alias("churned"),
        F.round(
            F.when(
                F.coalesce(F.col("__ch"), F.lit(0)) > 0,
                (F.col("new_users") + F.col("resurrected")).cast("double")
                / F.coalesce(F.col("__ch"), F.lit(0)).cast("double"),
            ),
            ndigits,
        ).alias("quick_ratio"),
    )


def growth_accounting_oracle_sql(ndigits: int = 4) -> str:
    """DuckDB oracle for :func:`growth_accounting` — identical weekly
    user grain (Monday-start date_trunc in both engines), first-seen
    classification, and (week, user) equi-join churn."""
    return f"""
    WITH uw AS (
      SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS w,
             user_id AS u
      FROM events
    ), first AS (
      SELECT u, min(w) AS fw FROM uw GROUP BY u
    ), prev AS (
      SELECT w + 7 AS w, u FROM uw
    ), cur AS (
      SELECT uw.w, uw.u, first.fw,
             prev.u IS NOT NULL AS p
      FROM uw
      LEFT JOIN prev ON prev.w = uw.w AND prev.u = uw.u
      JOIN first ON first.u = uw.u
    ), per AS (
      SELECT w, CAST(count(*) AS BIGINT) AS active,
             CAST(count(CASE WHEN fw = w THEN 1 END) AS BIGINT)
               AS new_users,
             CAST(count(CASE WHEN p THEN 1 END) AS BIGINT) AS retained,
             CAST(count(CASE WHEN NOT p AND fw < w THEN 1 END) AS BIGINT)
               AS resurrected
      FROM cur GROUP BY w
    ), ch AS (
      SELECT prev.w, CAST(count(*) AS BIGINT) AS churned
      FROM prev LEFT JOIN uw ON uw.w = prev.w AND uw.u = prev.u
      WHERE uw.u IS NULL
      GROUP BY prev.w
    )
    SELECT per.w AS week, active, new_users, retained, resurrected,
           coalesce(ch.churned, 0) AS churned,
           round(CASE WHEN coalesce(ch.churned, 0) > 0
                 THEN CAST(new_users + resurrected AS DOUBLE)
                      / CAST(coalesce(ch.churned, 0) AS DOUBLE) END,
                 {ndigits}) AS quick_ratio
    FROM per LEFT JOIN ch ON ch.w = per.w
    """


def diff_in_diff(
    events: DataFrame,
    value_col: str = "value",
    treat_col=None,
    ts_col: str = "ts",
    ndigits: int = 6,
) -> DataFrame:
    """Difference-in-differences estimate with a normal-approximation
    z — the experiment readout when randomization is by UNIT and the
    change lands at a point in TIME: (treated post - treated pre) -
    (control post - control pre) cancels both the group baseline and
    the common time trend that a naive post-vs-pre or
    treated-vs-control comparison conflates.

    ``treat_col`` is a boolean Column marking the treated group. The
    pre/post split is the calendar MIDPOINT of the observed range
    (deterministic — no config drift between engines). SE is the
    four-cell pooled ``sqrt(sum s_i^2 / n_i)`` under independence.

    One row out: ``(n_rows, m_ctrl_pre, m_ctrl_post, m_treat_pre,
    m_treat_post, did, se, z_score)``.

    100 TB shape: ONE map-side-combined aggregate computes all four
    cells' exact decimal (sum, sum-of-squares, count) moments in a
    single corpus pass against the broadcast midpoint row; everything
    after is arithmetic on one row.
    """
    if treat_col is None:
        raise ValueError("treat_col is required")
    base = events.select(
        F.col(value_col).alias("v"),
        treat_col.alias("__t"),
        F.to_date(F.col(ts_col)).alias("d"),
    ).filter(F.col("v").isNotNull())
    bounds = base.agg(
        F.min("d").alias("__d0"), F.max("d").alias("__d1")
    )
    j = base.crossJoin(F.broadcast(bounds))
    # explicit floor: DuckDB ROUNDS double->int casts while Spark
    # truncates (the r11 dq_psi lesson) — floor agrees in both engines
    post = F.col("d") > F.date_add(
        F.col("__d0"),
        F.floor(
            F.datediff(F.col("__d1"), F.col("__d0")) / F.lit(2.0)
        ).cast("int"),
    )
    cells = []
    for t, p, tag in (
        (False, False, "c0"),
        (False, True, "c1"),
        (True, False, "t0"),
        (True, True, "t1"),
    ):
        cond = (F.col("__t") == t) & (post == p)
        cells += [
            F.sum(F.when(cond, F.col("v").cast("decimal(38,6)"))).alias(
                f"s_{tag}"
            ),
            F.sum(
                F.when(
                    cond,
                    (F.col("v") * F.col("v")).cast("decimal(38,6)"),
                )
            ).alias(f"q_{tag}"),
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"n_{tag}"),
        ]
    row = j.agg(F.count(F.lit(1)).cast("long").alias("n_rows"), *cells)

    def mean(tag):
        # empty cell: s is NULL and n is 0 — ANSI Spark would raise on
        # the 0 divisor where DuckDB's NULL/0 propagates NULL; guard to
        # the same NULL
        return F.when(
            F.col(f"n_{tag}") > 0,
            F.col(f"s_{tag}").cast("double")
            / F.col(f"n_{tag}").cast("double"),
        )

    def var_over_n(tag):
        n = F.col(f"n_{tag}").cast("double")
        s = F.col(f"s_{tag}").cast("double")
        q = F.col(f"q_{tag}").cast("double")
        return (q - s * s / n) / (n - F.lit(1.0)) / n

    did = (mean("t1") - mean("t0")) - (mean("c1") - mean("c0"))
    # Degenerate-cell guard: a cell with 0 or 1 rows makes var/n a 0/0
    # (Spark ANSI-off yields NULL, DuckDB IEEE yields NaN — the engines
    # DIVERGE). The estimate needs >=2 rows in every cell anyway, so
    # emit an explicit NULL se/z below that, identically in both.
    cells_ok = (
        (F.col("n_t1") > 1)
        & (F.col("n_t0") > 1)
        & (F.col("n_c1") > 1)
        & (F.col("n_c0") > 1)
    )
    se = F.when(
        cells_ok,
        F.sqrt(
            var_over_n("t1") + var_over_n("t0") + var_over_n("c1")
            + var_over_n("c0")
        ),
    )
    return row.select(
        "n_rows",
        F.round(mean("c0"), ndigits).alias("m_ctrl_pre"),
        F.round(mean("c1"), ndigits).alias("m_ctrl_post"),
        F.round(mean("t0"), ndigits).alias("m_treat_pre"),
        F.round(mean("t1"), ndigits).alias("m_treat_post"),
        F.round(did, ndigits).alias("did"),
        F.round(se, ndigits).alias("se"),
        F.round(F.when(se > 0, did / se), ndigits).alias("z_score"),
    )


def diff_in_diff_oracle_sql(
    value_col: str = "value",
    treat_sql: str = "user_id % 2 = 0",
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`diff_in_diff` — identical midpoint
    split, exact decimal cell moments, and final double expression
    shapes."""
    cells = []
    for t, p, tag in (
        ("NOT t", "NOT post", "c0"),
        ("NOT t", "post", "c1"),
        ("t", "NOT post", "t0"),
        ("t", "post", "t1"),
    ):
        cond = f"{t} AND {p}"
        cells.append(
            f"sum(CASE WHEN {cond} THEN CAST(v AS DECIMAL(38,6)) END)"
            f" AS s_{tag},"
            f" sum(CASE WHEN {cond} THEN CAST(v * v AS DECIMAL(38,6)) END)"
            f" AS q_{tag},"
            f" CAST(count(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS n_{tag}"
        )

    def mean(tag):
        return f"(CAST(s_{tag} AS DOUBLE) / CAST(n_{tag} AS DOUBLE))"

    def von(tag):
        n = f"CAST(n_{tag} AS DOUBLE)"
        s = f"CAST(s_{tag} AS DOUBLE)"
        q = f"CAST(q_{tag} AS DOUBLE)"
        return f"(({q} - {s} * {s} / {n}) / ({n} - 1.0) / {n})"

    did = f"(({mean('t1')} - {mean('t0')}) - ({mean('c1')} - {mean('c0')}))"
    # mirror of the Spark-side degenerate-cell guard: CASE keeps the
    # 0/0 NaN (DuckDB IEEE division) out of se entirely
    se = (
        "CASE WHEN n_t1 > 1 AND n_t0 > 1 AND n_c1 > 1 AND n_c0 > 1"
        f" THEN sqrt({von('t1')} + {von('t0')} + {von('c1')} + {von('c0')})"
        " END"
    )
    return f"""
    WITH base AS (
      SELECT {value_col} AS v, ({treat_sql}) AS t,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE {value_col} IS NOT NULL
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM base
    ), flagged AS (
      SELECT v, t,
             d > d0 + CAST(floor(CAST(date_diff('day', d0, d1) AS DOUBLE)
                                 / 2) AS INT) AS post
      FROM base, bounds
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows, {", ".join(cells)}
      FROM flagged
    )
    SELECT n_rows,
           round({mean('c0')}, {ndigits}) AS m_ctrl_pre,
           round({mean('c1')}, {ndigits}) AS m_ctrl_post,
           round({mean('t0')}, {ndigits}) AS m_treat_pre,
           round({mean('t1')}, {ndigits}) AS m_treat_post,
           round({did}, {ndigits}) AS did,
           round({se}, {ndigits}) AS se,
           round(CASE WHEN {se} > 0 THEN {did} / {se} END, {ndigits})
             AS z_score
    FROM c
    """


def cuped(
    events: DataFrame,
    value_col: str = "value",
    treat_col=None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    ndigits: int = 6,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013): each user's PRE-period mean is the control
    covariate for their POST-period mean — ``theta = cov(x, y) /
    var(x)`` pooled over users, and because the global covariate mean
    cancels in a between-group difference, ``diff_cuped = diff_raw -
    theta * diff_x``. The estimator the experimentation stack runs
    next to diff_in_diff: DiD needs the parallel-trends assumption,
    CUPED only needs the covariate to correlate (it removes
    ``corr^2`` of the variance — reported as ``var_reduction``).

    Pre/post split is the calendar MIDPOINT of the observed range (the
    diff_in_diff convention); users need >= 1 event on each side (no
    pre-period covariate -> nothing to adjust; imputing the mean is
    equivalent to dropping under the difference estimator).

    Output: one row ``(n_users, n_treat, n_ctrl, theta, diff_raw,
    diff_cuped, var_reduction)``. theta / diff_cuped / var_reduction
    are explicit NULLs when var(x) is 0 (constant covariate) or a
    group is empty.

    Determinism ladder: per-user pre/post means come from exact
    decimal sums (one double division each); every pooled moment
    re-accumulates round-12 per-user terms as DECIMAL(38,12); the
    final expressions are double arithmetic on exact scalars.

    100 TB shape: ONE map-side-combined groupBy(user) against a
    broadcast midpoint row, then ONE aggregate over the user frame
    computing all moments and both groups' sums in a single pass."""
    if treat_col is None:
        raise ValueError("treat_col is required")
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(value_col).alias("v"),
        treat_col.alias("__t"),
        F.to_date(F.col(ts_col)).alias("d"),
    ).filter(F.col("v").isNotNull())
    bounds = base.agg(F.min("d").alias("__d0"), F.max("d").alias("__d1"))
    j = base.crossJoin(F.broadcast(bounds))
    post = F.col("d") > F.date_add(
        F.col("__d0"),
        F.floor(
            F.datediff(F.col("__d1"), F.col("__d0")) / F.lit(2.0)
        ).cast("int"),
    )
    per_user = (
        j.groupBy("u", "__t")
        .agg(
            F.sum(F.when(~post, F.col("v").cast(_DEC))).alias("s_pre"),
            F.count(F.when(~post, F.lit(1))).alias("c_pre"),
            F.sum(F.when(post, F.col("v").cast(_DEC))).alias("s_post"),
            F.count(F.when(post, F.lit(1))).alias("c_post"),
        )
        .filter((F.col("c_pre") > 0) & (F.col("c_post") > 0))
        .select(
            "__t",
            (F.col("s_pre").cast("double") / F.col("c_pre").cast("double"))
            .alias("x"),
            (F.col("s_post").cast("double") / F.col("c_post").cast("double"))
            .alias("y"),
        )
    )

    def _m(expr):
        return F.sum(F.round(expr, 12).cast("decimal(38,12)"))

    row = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count(F.when(F.col("__t"), F.lit(1))).cast("long").alias("n_treat"),
        F.count(F.when(~F.col("__t"), F.lit(1))).cast("long").alias("n_ctrl"),
        _m(F.col("x")).alias("sx"),
        _m(F.col("y")).alias("sy"),
        _m(F.col("x") * F.col("x")).alias("sxx"),
        _m(F.col("y") * F.col("y")).alias("syy"),
        _m(F.col("x") * F.col("y")).alias("sxy"),
        _m(F.when(F.col("__t"), F.col("x"))).alias("sx_t"),
        _m(F.when(F.col("__t"), F.col("y"))).alias("sy_t"),
        _m(F.when(~F.col("__t"), F.col("x"))).alias("sx_c"),
        _m(F.when(~F.col("__t"), F.col("y"))).alias("sy_c"),
    )
    n = F.col("n_users").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / n
    var_x = F.col("sxx").cast("double") - sx * sx / n
    var_y = F.col("syy").cast("double") - sy * sy / n
    nt = F.col("n_treat").cast("double")
    nc = F.col("n_ctrl").cast("double")
    both = (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0)
    diff_raw = F.when(
        both,
        F.col("sy_t").cast("double") / nt - F.col("sy_c").cast("double") / nc,
    )
    diff_x = F.col("sx_t").cast("double") / nt - F.col("sx_c").cast(
        "double"
    ) / nc
    ok = both & (var_x > 0)
    theta = F.when(ok, cov / var_x)
    return row.select(
        "n_users",
        "n_treat",
        "n_ctrl",
        F.round(theta, ndigits).alias("theta"),
        F.round(diff_raw, ndigits).alias("diff_raw"),
        F.round(diff_raw - theta * diff_x, ndigits).alias("diff_cuped"),
        F.round(
            F.when(ok & (var_y > 0), cov * cov / (var_x * var_y)),
            ndigits,
        ).alias("var_reduction"),
    )


def cuped_oracle_sql(
    value_col: str = "value",
    treat_sql: str = "user_id % 2 = 0",
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`cuped` — identical midpoint split,
    per-user exact-decimal means, round-12 decimal moment
    accumulation, and final double expression shapes."""

    def m(expr):
        return f"sum(CAST(round({expr}, 12) AS DECIMAL(38,12)))"

    n = "CAST(n_users AS DOUBLE)"
    sx = "CAST(sx AS DOUBLE)"
    sy = "CAST(sy AS DOUBLE)"
    cov = f"(CAST(sxy AS DOUBLE) - {sx} * {sy} / {n})"
    var_x = f"(CAST(sxx AS DOUBLE) - {sx} * {sx} / {n})"
    var_y = f"(CAST(syy AS DOUBLE) - {sy} * {sy} / {n})"
    nt = "CAST(n_treat AS DOUBLE)"
    nc = "CAST(n_ctrl AS DOUBLE)"
    both = "n_treat > 0 AND n_ctrl > 0"
    diff_raw = (
        f"CASE WHEN {both} THEN CAST(sy_t AS DOUBLE) / {nt}"
        f" - CAST(sy_c AS DOUBLE) / {nc} END"
    )
    diff_x = f"(CAST(sx_t AS DOUBLE) / {nt} - CAST(sx_c AS DOUBLE) / {nc})"
    ok = f"{both} AND {var_x} > 0"
    theta = f"CASE WHEN {ok} THEN {cov} / {var_x} END"
    return f"""
    WITH base AS (
      SELECT user_id AS u, {value_col} AS v, ({treat_sql}) AS t,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE {value_col} IS NOT NULL
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM base
    ), flagged AS (
      SELECT u, v, t,
             d > d0 + CAST(floor(CAST(date_diff('day', d0, d1) AS DOUBLE)
                                 / 2) AS INT) AS post
      FROM base, bounds
    ), per_user AS (
      SELECT t,
             CAST(sum(CASE WHEN NOT post
                           THEN CAST(v AS DECIMAL(38,6)) END) AS DOUBLE)
               / CAST(count(CASE WHEN NOT post THEN 1 END) AS DOUBLE) AS x,
             CAST(sum(CASE WHEN post
                           THEN CAST(v AS DECIMAL(38,6)) END) AS DOUBLE)
               / CAST(count(CASE WHEN post THEN 1 END) AS DOUBLE) AS y
      FROM flagged GROUP BY u, t
      HAVING count(CASE WHEN NOT post THEN 1 END) > 0
         AND count(CASE WHEN post THEN 1 END) > 0
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(CASE WHEN t THEN 1 END) AS BIGINT) AS n_treat,
             CAST(count(CASE WHEN NOT t THEN 1 END) AS BIGINT) AS n_ctrl,
             {m("x")} AS sx, {m("y")} AS sy,
             {m("x * x")} AS sxx, {m("y * y")} AS syy,
             {m("x * y")} AS sxy,
             {m("CASE WHEN t THEN x END")} AS sx_t,
             {m("CASE WHEN t THEN y END")} AS sy_t,
             {m("CASE WHEN NOT t THEN x END")} AS sx_c,
             {m("CASE WHEN NOT t THEN y END")} AS sy_c
      FROM per_user
    )
    SELECT n_users, n_treat, n_ctrl,
           round({theta}, {ndigits}) AS theta,
           round({diff_raw}, {ndigits}) AS diff_raw,
           round(({diff_raw}) - ({theta}) * {diff_x}, {ndigits})
             AS diff_cuped,
           round(CASE WHEN {ok} AND {var_y} > 0
                      THEN {cov} * {cov} / ({var_x} * {var_y}) END,
                 {ndigits}) AS var_reduction
    FROM mo
    """


def burstiness(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "event_id",
    ndigits: int = 6,
) -> DataFrame:
    """Per-group inter-arrival burstiness (Goh & Barabási 2008): the
    coefficient of variation of successive gaps and the bounded
    burstiness index ``B = (cv - 1) / (cv + 1)`` — B < 0 regular
    (metronome), B = 0 Poisson, B -> 1 bursty. The arrival-process
    readout capacity planning and anomaly thresholds need BEFORE
    assuming Poisson (a bursty feed's p99 queue depth is nothing like
    its mean rate implies).

    Output per group: ``(group, n_gaps, mean_gap_s, cv, burstiness)``;
    cv/B are NULL when a group has no gaps or zero mean.

    Determinism ladder: each gap is exact integer microseconds with
    one double division; gap and gap^2 terms round to 12 and
    accumulate as DECIMAL(38,12); the variance clamps at 0 before the
    sqrt (round-12 can leave a -1e-13 residue on constant gaps, and
    sqrt(negative) is a NaN that diverges between engines).

    100 TB shape: ONE distributed range-prefix over the composite
    (group, ts, key) order assigns global ranks (never a one-task
    per-group window); the successor arrives by rank-equi join
    (shuffle on rank) filtered to same-group; then ONE
    map-side-combined groupBy."""
    from pydala2_spark.functions.skew import distributed_prefix

    base = events.select(
        F.col(group_col).alias("g"),
        # NTZ-tolerant: unix_micros needs TIMESTAMP; exact under UTC
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(key_col).alias("k"),
    ).filter(F.col("ts").isNotNull())
    r = distributed_prefix(base, ["g", "ts", "k"], rank_col="__r")
    nxt = r.select(
        (F.col("__r") - 1).alias("__r"),
        F.col("g").alias("g2"),
        F.col("ts").alias("ts2"),
    )
    gaps = (
        r.join(nxt, "__r")
        .filter(F.col("g") == F.col("g2"))
        .select(
            "g",
            (
                (F.unix_micros("ts2") - F.unix_micros("ts")).cast("double")
                / F.lit(1e6)
            ).alias("gap_s"),
        )
    )
    per = gaps.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.round(F.col("gap_s"), 12).cast("decimal(38,12)")).alias("s"),
        F.sum(
            F.round(F.col("gap_s") * F.col("gap_s"), 12).cast("decimal(38,12)")
        ).alias("q"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.greatest(
        F.col("q").cast("double") / n - mean * mean, F.lit(0.0)
    )
    cv = F.when(mean > 0, F.sqrt(var) / mean)
    return per.select(
        F.col("g").alias(group_col),
        "n_gaps",
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(cv, ndigits).alias("cv"),
        F.round((cv - 1) / (cv + 1), ndigits).alias("burstiness"),
    )


def burstiness_oracle_sql(
    table: str = "events",
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "event_id",
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`burstiness`: per-group lead() window at
    oracle SF, identical gap arithmetic, round-12 decimal moments,
    clamped variance, guarded cv."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS g, {ts_col} AS ts, {key_col} AS k
      FROM {table} WHERE {ts_col} IS NOT NULL
    ), gaps AS (
      SELECT g,
             CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS DOUBLE)
               / 1000000.0 AS gap_s
      FROM base WINDOW w AS (PARTITION BY g ORDER BY ts, k)
      QUALIFY gap_s IS NOT NULL
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_gaps,
             sum(CAST(round(gap_s, 12) AS DECIMAL(38,12))) AS s,
             sum(CAST(round(gap_s * gap_s, 12) AS DECIMAL(38,12))) AS q
      FROM gaps GROUP BY g
    )
    SELECT g AS {group_col}, n_gaps,
           round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 4)
             AS mean_gap_s,
           round(CASE WHEN CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
                 THEN sqrt(greatest(
                        CAST(q AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                        - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                          * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                        0.0))
                      / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 END, {ndigits}) AS cv,
           round(CASE WHEN CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
                 THEN (sqrt(greatest(
                        CAST(q AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                        - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                          * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                        0.0)) / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                       - 1.0)
                      / (sqrt(greatest(
                        CAST(q AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                        - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                          * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                        0.0)) / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                       + 1.0)
                 END, {ndigits}) AS burstiness
    FROM per
    """


#: two-sided alpha = 0.05 and power = 0.80 normal quantiles, inlined as
#: full-precision literals so both engines use the identical doubles
Z_ALPHA_025 = 1.959963984540054
Z_POWER_080 = 0.8416212335729143


def power_mde(
    events: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    rel_effect: float = 0.01,
    ndigits: int = 6,
) -> DataFrame:
    """Experiment DESIGN readout: the minimum detectable effect (MDE)
    a user-randomized A/B on this metric could resolve with the users
    we have, and the per-arm sample size a target relative effect
    would need — the question that comes BEFORE ev_cuped/ev_diff_in_
    diff ever run ("is this test even worth launching?"). Standard
    two-sample normal approximation at two-sided alpha=0.05, power
    0.8: ``MDE = (z_a + z_b) * sqrt(2 * var / n_arm)`` with
    ``n_arm = floor(n_users / 2)``, and
    ``n_req = ceil(2 * (z_a+z_b)^2 * var / (rel_effect * mean)^2)``.

    The unit of analysis is the USER (per-user mean of the metric —
    randomization-unit variance, not row variance; row-level variance
    understates MDE whenever users contribute many correlated rows).

    Output: one row ``(n_users, mean_metric, sd_user, mde_abs,
    mde_rel, n_per_arm_for_target)``; NULLs when fewer than 2 users
    or zero mean/variance where required.

    Determinism ladder: per-user means from exact decimal sums;
    round-12 decimal moment accumulation; z constants inlined as
    identical full-precision literals in both engines.

    100 TB shape: ONE map-side-combined groupBy(user) + ONE moment
    aggregate — the cuped economics without the time split."""
    per_user = (
        events.select(
            F.col(user_col).alias("u"), F.col(value_col).alias("v")
        )
        .filter(F.col("v").isNotNull() & F.col("u").isNotNull())
        .groupBy("u")
        .agg(
            F.sum(F.col("v").cast(_DEC)).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            (F.col("s").cast("double") / F.col("c").cast("double")).alias("x")
        )
    )
    row = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(38,12)")).alias("sx"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)")
        ).alias("sxx"),
    )
    n = F.col("n_users").cast("double")
    mean = F.col("sx").cast("double") / n
    var = F.greatest(
        F.col("sxx").cast("double") / n - mean * mean, F.lit(0.0)
    )
    z = F.lit(Z_ALPHA_025 + Z_POWER_080)
    n_arm = F.floor(F.col("n_users") / 2).cast("double")
    ok = F.col("n_users") >= 2
    mde = F.when(ok, z * F.sqrt(F.lit(2.0) * var / n_arm))
    return row.select(
        "n_users",
        F.round(F.when(ok, mean), ndigits).alias("mean_metric"),
        F.round(F.when(ok, F.sqrt(var)), ndigits).alias("sd_user"),
        F.round(mde, ndigits).alias("mde_abs"),
        F.round(
            F.when(ok & (mean > 0), mde / mean), ndigits
        ).alias("mde_rel"),
        F.when(
            ok & (mean > 0) & (var > 0),
            F.ceil(
                F.lit(2.0) * z * z * var
                / ((F.lit(rel_effect) * mean) * (F.lit(rel_effect) * mean))
            ).cast("long"),
        ).alias("n_per_arm_for_target"),
    )


def power_mde_oracle_sql(
    value_col: str = "value",
    user_col: str = "user_id",
    rel_effect: float = 0.01,
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`power_mde` — identical z literals,
    per-user decimal means, round-12 moments, guards."""
    z = Z_ALPHA_025 + Z_POWER_080
    n = "CAST(n_users AS DOUBLE)"
    mean = f"(CAST(sx AS DOUBLE) / {n})"
    var = f"greatest(CAST(sxx AS DOUBLE) / {n} - {mean} * {mean}, 0.0)"
    n_arm = "CAST(CAST(floor(n_users / 2) AS BIGINT) AS DOUBLE)"
    mde = f"{z!r} * sqrt(2.0 * {var} / {n_arm})"
    return f"""
    WITH per_user AS (
      SELECT CAST(sum(CAST({value_col} AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS x
      FROM events
      WHERE {value_col} IS NOT NULL AND {user_col} IS NOT NULL
      GROUP BY {user_col}
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
             sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS sxx
      FROM per_user
    )
    SELECT n_users,
           round(CASE WHEN n_users >= 2 THEN {mean} END, {ndigits})
             AS mean_metric,
           round(CASE WHEN n_users >= 2 THEN sqrt({var}) END, {ndigits})
             AS sd_user,
           round(CASE WHEN n_users >= 2 THEN {mde} END, {ndigits})
             AS mde_abs,
           round(CASE WHEN n_users >= 2 AND {mean} > 0
                      THEN ({mde}) / {mean} END, {ndigits}) AS mde_rel,
           CAST(CASE WHEN n_users >= 2 AND {mean} > 0 AND {var} > 0
                     THEN ceil(2.0 * {z!r} * {z!r} * {var}
                               / (({rel_effect!r} * {mean})
                                  * ({rel_effect!r} * {mean})))
                END AS BIGINT) AS n_per_arm_for_target
    FROM mo
    """


def retention_halflife(
    events: DataFrame,
    max_offset: int = 14,
    user_col: str = "user_id",
    ts_col: str = "ts",
    ndigits: int = 6,
) -> DataFrame:
    """Retention half-life: fit ``ln(retention_rate) ~ day_offset`` by
    closed-form OLS over the pooled cohort retention curve and report
    ``t_half = ln(2) / -slope`` — the single number ("days until half
    the new users are gone") product teams quote from the retention
    TABLE ev_cohort_retention already emits. Pooling uses only cohorts
    with a FULL ``max_offset``-day observation window, so late cohorts
    don't drag the tail down (right-censoring bias — the classic
    retention-curve mistake).

    Output: one row ``(n_cohorts, cohort_users, slope, half_life_days,
    rate_1, rate_7)``; slope/half-life are NULL when fewer than 2
    positive-rate offsets exist or the fitted slope is >= 0.

    Determinism ladder: rates are exact-integer divisions; ln(rate)
    rounds to 12; the OLS moments accumulate round-12 decimals over
    the <= max_offset-row offset table (cross-engine summation order
    cannot move a bit).

    100 TB shape: rides :func:`cohort_retention`'s two
    map-side-combined aggregations (user-day dedup -> first-seen
    join); everything after runs on the O(cohorts x offsets) frame
    against one-row broadcast bounds."""

    a = materialize(
        events.select(user_col, F.to_date(ts_col).alias("day"))
        .filter(F.col(user_col).isNotNull())
        .distinct()
    )
    f = a.groupBy(user_col).agg(F.min("day").alias("cohort"))
    bounds = a.agg(F.max("day").alias("__mx"))
    # cohorts fully observed over [0, max_offset]
    # `full` feeds BOTH the activity join and the base agg; `r` feeds
    # BOTH the OLS moments and the rate pivot — without a checkpoint
    # each consumer re-runs the first-seen aggregate / the activity
    # join (Catalyst emits no ReusedExchange here)
    full = materialize(
        f.crossJoin(F.broadcast(bounds))
        .filter(F.datediff(F.col("__mx"), F.col("cohort")) >= max_offset)
        .select(user_col, "cohort")
    )
    act = (
        a.join(full, user_col)
        .select(F.datediff("day", "cohort").cast("long").alias("d"))
        .filter((F.col("d") >= 0) & (F.col("d") <= max_offset))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    base = full.agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users"),
        F.count_distinct("cohort").cast("long").alias("n_cohorts"),
    )
    r = materialize(
        act.crossJoin(F.broadcast(base)).withColumn(
            "rate",
            F.col("n_active").cast("double")
            / F.col("cohort_users").cast("double"),
        )
    )
    fitpts = r.filter((F.col("d") >= 1) & (F.col("rate") > 0))

    def _m(expr):
        return F.sum(F.round(expr, 12).cast("decimal(38,12)"))

    mo = fitpts.groupBy("cohort_users", "n_cohorts").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        _m(F.col("d").cast("double")).alias("sx"),
        _m(F.log("rate")).alias("sy"),
        _m(F.col("d").cast("double") * F.col("d").cast("double")).alias("sxx"),
        _m(F.col("d").cast("double") * F.log("rate")).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    varx = F.col("sxx").cast("double") - sx * sx / kd
    cov = F.col("sxy").cast("double") - sx * sy / kd
    ok = (F.col("k") >= 2) & (varx > 0)
    slope = F.when(ok, cov / varx)
    rates = r.groupBy().pivot("d", [1, 7]).agg(F.round(F.max("rate"), ndigits))
    out = mo.crossJoin(
        F.broadcast(
            rates.select(
                F.col("1").alias("rate_1"), F.col("7").alias("rate_7")
            )
        )
    )
    return out.select(
        "n_cohorts",
        "cohort_users",
        F.round(slope, ndigits).alias("slope"),
        F.round(
            F.when(ok & (slope < 0), -float(__import__("math").log(2.0)) / slope),
            ndigits,
        ).alias("half_life_days"),
        "rate_1",
        "rate_7",
    )


def retention_halflife_oracle_sql(
    max_offset: int = 14,
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`retention_halflife` — identical
    full-window cohort cut, exact-integer rates, round-12 ln ladder,
    closed-form OLS, and guards."""
    import math

    ln2 = math.log(2.0)
    kd = "CAST(k AS DOUBLE)"
    sx = "CAST(sx AS DOUBLE)"
    sy = "CAST(sy AS DOUBLE)"
    varx = f"(CAST(sxx AS DOUBLE) - {sx} * {sx} / {kd})"
    cov = f"(CAST(sxy AS DOUBLE) - {sx} * {sy} / {kd})"
    ok = f"k >= 2 AND {varx} > 0"
    slope = f"CASE WHEN {ok} THEN {cov} / {varx} END"
    return f"""
    WITH a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    ), f AS (
      SELECT user_id, min(day) AS cohort FROM a GROUP BY user_id
    ), b AS (SELECT max(day) AS mx FROM a),
    full_ AS (
      SELECT f.user_id, f.cohort FROM f, b
      WHERE date_diff('day', f.cohort, b.mx) >= {max_offset}
    ), act AS (
      SELECT date_diff('day', full_.cohort, a.day) AS d,
             CAST(count(*) AS BIGINT) AS n_active
      FROM a JOIN full_ USING (user_id)
      WHERE date_diff('day', full_.cohort, a.day) BETWEEN 0 AND {max_offset}
      GROUP BY 1
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS cohort_users,
             CAST(count(DISTINCT cohort) AS BIGINT) AS n_cohorts
      FROM full_
    ), r AS (
      SELECT act.d,
             CAST(act.n_active AS DOUBLE) / CAST(base.cohort_users AS DOUBLE)
               AS rate,
             base.cohort_users, base.n_cohorts
      FROM act, base
    ), mo AS (
      SELECT cohort_users, n_cohorts,
             CAST(count(*) AS BIGINT) AS k,
             sum(CAST(round(CAST(d AS DOUBLE), 12) AS DECIMAL(38,12))) AS sx,
             sum(CAST(round(ln(rate), 12) AS DECIMAL(38,12))) AS sy,
             sum(CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE), 12)
                      AS DECIMAL(38,12))) AS sxx,
             sum(CAST(round(CAST(d AS DOUBLE) * ln(rate), 12)
                      AS DECIMAL(38,12))) AS sxy
      FROM r WHERE d >= 1 AND rate > 0
      GROUP BY cohort_users, n_cohorts
    )
    SELECT mo.n_cohorts, mo.cohort_users,
           round({slope}, {ndigits}) AS slope,
           round(CASE WHEN {ok} AND ({slope}) < 0
                      THEN -{ln2!r} / ({slope}) END, {ndigits})
             AS half_life_days,
           (SELECT round(max(rate), {ndigits}) FROM r WHERE d = 1) AS rate_1,
           (SELECT round(max(rate), {ndigits}) FROM r WHERE d = 7) AS rate_7
    FROM mo
    """
