"""Event/time-series queries: sessionization, as-of/range joins, SCD2, funnels, engagement, experiment readouts.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _DEC,
    _davg,
    _dsum,
    _oavg,
    _osum,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



# =====================================================================
# Scalar-function surface (JSON / explode / pivot / ntile)
# =====================================================================


@query(
    "ev_json_extract",
    f"""
    SELECT event_type,
           count(*) AS n,
           round(CAST(sum(CAST(CAST(json_extract(props, '$.k') AS DOUBLE) AS DECIMAL(38,6)))
                      AS DOUBLE)
                 / count(CAST(json_extract(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # get_json_object is a JVM built-in — JSON parsing stays in codegen.
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    kd = k.cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(kd.cast(_DEC)).cast("double") / F.count(kd), 4).alias("avg_k"),
        F.max(k.cast("long")).alias("max_k"),
    )



# =====================================================================
# Events (time-series / sessionization)
# =====================================================================


@query(
    "ev_hourly_rollup",
    f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*) AS n_events,
           {_osum("value")} AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The batch shape of a streaming windowed agg (see streaming/ for
    # the readStream + watermark variant of the same rollup).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )



@query(
    "ev_resample_locf",
    """
    WITH daily AS (
      SELECT user_id, d, value FROM (
        SELECT user_id, date_trunc('day', ts) AS d, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), bounds AS (
      SELECT user_id, min(d) AS d0 FROM daily GROUP BY user_id
    ), gm AS (
      SELECT max(d) AS dmax FROM daily
    ), grid AS (
      SELECT user_id, unnest(generate_series(d0, dmax, INTERVAL 1 DAY)) AS d
      FROM bounds CROSS JOIN gm
    )
    SELECT g.user_id,
           strftime(g.d, '%Y-%m-%d') AS day,
           daily.value IS NOT NULL AS observed,
           last_value(daily.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
    FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d
    """,
)
def ev_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Regular-grid resample with last-observation-carried-forward: one
    # row per (user, day) from the user's first active day to the
    # corpus's last, silent days carrying the user's latest value. The
    # event table collapses to |users|×|active days| in the FIRST
    # shuffle; the corpus end is a broadcast one-row aggregate. See
    # operators/events.resample_locf for the 100 TB notes.
    from pydala2_spark.operators.events import resample_locf

    out = resample_locf(_t(spark, sf_dir, "events"), freq="day")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "observed",
        "value_locf",
    )



@query(
    "ev_conversion_latency",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS pts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.vts
      GROUP BY e.user_id
    ), lat AS (
      SELECT strftime(date_trunc('day', v.vts), '%Y-%m-%d') AS cohort_day,
             epoch_us(p.pts) - epoch_us(v.vts) AS us
      FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT cohort_day,
           count(*) AS n_converted,
           round(quantile_cont(CAST(us AS DOUBLE), 0.5) / 1000000.0, 4)
             AS median_s,
           round(quantile_cont(CAST(us AS DOUBLE), 0.9) / 1000000.0, 4)
             AS p90_s
    FROM lat GROUP BY cohort_day
    """,
)
def ev_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-to-convert distribution per first-view cohort day: two
    # min-reductions to ONE row per user (stage joins shuffle |users|,
    # never |events| — the funnel discipline), then interpolated
    # percentiles over microsecond-exact latencies. The percentile agg
    # sees |converted users| rows.
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter("event_type = 'view'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = (
        ev.filter("event_type = 'purchase'")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    lat = v.join(p, "user_id").select(
        F.date_format(F.date_trunc("day", "vts"), "yyyy-MM-dd").alias("cohort_day"),
        (
            F.unix_micros(F.col("pts").cast("timestamp"))
            - F.unix_micros(F.col("vts").cast("timestamp"))
        )
        .cast("double")
        .alias("us"),
    )
    return lat.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("us", F.lit(0.5)) / 1000000.0, 4).alias("median_s"),
        F.round(F.percentile("us", F.lit(0.9)) / 1000000.0, 4).alias("p90_s"),
    )



@query(
    "ev_anomaly_days",
    f"""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', ts) AS d,
             {_osum("value")} AS day_total
      FROM events GROUP BY 1, 2
    ), scaled AS (
      SELECT event_type, d, day_total,
             abs(day_total - quantile_cont(day_total, 0.5)
                              OVER (PARTITION BY event_type)) AS dev
      FROM daily
    ), m AS (
      SELECT event_type, d, day_total, dev,
             quantile_cont(dev, 0.5) OVER (PARTITION BY event_type) AS mad
      FROM scaled
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d') AS day,
           day_total,
           CASE WHEN mad > 0
                THEN round(dev / (CAST(1.4826 AS DOUBLE) * mad), 4) END AS z,
           CASE WHEN mad > 0
                THEN dev / (CAST(1.4826 AS DOUBLE) * mad) > 3.0 END
             AS is_anomaly
    FROM m
    """,
)
def ev_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust (median/MAD) daily anomaly screen per event type — both
    # scale statistics come from window percentiles over the reduced
    # daily frame under one partitioning. See
    # operators/events.anomaly_days for the 100 TB notes.
    from pydala2_spark.operators.events import anomaly_days

    return anomaly_days(_t(spark, sf_dir, "events"))



@query(
    "ev_rolling_quantiles",
    f"""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', ts) AS d,
             {_osum("value")} AS day_total
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d') AS day,
           day_total,
           round(quantile_cont(day_total, 0.5) OVER w, 4) AS q_50,
           round(quantile_cont(day_total, 0.9) OVER w, 4) AS q_90
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def ev_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trailing-7-day median and p90 of exact daily totals per event
    # type — Spark window `percentile` ≡ DuckDB `quantile_cont`
    # (linear interpolation), over decimal-exact day totals. See
    # operators/events.rolling_quantiles for the 100 TB notes (events
    # collapse to days BEFORE any window sort).
    from pydala2_spark.operators.events import rolling_quantiles

    return rolling_quantiles(_t(spark, sf_dir, "events"), trailing=7)



@query(
    "ev_value_histogram",
    """
    WITH b AS (
      SELECT CAST(min(value) AS DOUBLE) AS lo,
             CAST(max(value) AS DOUBLE) AS hi
      FROM events
    ), x AS (
      SELECT event_type,
             least(19, greatest(0,
               CAST(floor((CAST(value AS DOUBLE) - lo)
                          / ((hi - lo) / 20.0)) AS INTEGER))) AS bin,
             lo, (hi - lo) / 20.0 AS w
      FROM events CROSS JOIN b
      WHERE value IS NOT NULL
    )
    SELECT event_type, bin,
           round(any_value(lo + bin * w), 4) AS bin_lo,
           round(any_value(lo + (bin + 1) * w), 4) AS bin_hi,
           count(*) AS n
    FROM x GROUP BY event_type, bin
    """,
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 20-bin fixed-width histogram of event values per type with
    # auto-bounds from a broadcast one-row min/max frame — bucket
    # assignment is pure IEEE floor arithmetic so the oracle matches
    # exactly. See functions/verbs.value_histogram for the 100 TB
    # notes (shuffle carries |types| x 20 partials).
    from pydala2_spark.functions.verbs import value_histogram

    return value_histogram(
        _t(spark, sf_dir, "events"), "value", bins=20, group_col="event_type"
    )



@query(
    "scd2_event_history",
    """
    WITH m AS (
      SELECT user_id, event_type, epoch_us(ts) AS e, ts, event_id,
             CASE WHEN lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), r AS (
      SELECT user_id, event_type, e,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM m
    ), p AS (
      SELECT user_id, run, any_value(event_type) AS event_type,
             min(e) AS valid_from, count(*) AS n_events
      FROM r GROUP BY user_id, run
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
             AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL
             AS is_current
    FROM p
    """,
)
def scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch SCD-Type-2 build: each user's event-type runs become
    # validity intervals (valid_from/valid_to in epoch microseconds,
    # half-open, NULL-ended current row) via gaps-and-islands inside
    # ONE entity-keyed window spec. See operators/events.scd2_history
    # for the 100 TB notes.
    from pydala2_spark.operators.events import scd2_history

    return scd2_history(_t(spark, sf_dir, "events"))



@query(
    "ev_ohlc_bars",
    f"""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
           round(min(struct_pack(t := ts, i := event_id, v := value)).v, 2)
             AS "open",
           round(max(value), 2) AS high_,
           round(min(value), 2) AS low_,
           round(max(struct_pack(t := ts, i := event_id, v := value)).v, 2)
             AS "close",
           {_oavg("value")} AS mean_value,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-bar resampling (open/high/low/close/mean/count per hour and
    # event type). Open/close are argmin/argmax over (ts, event_id) via
    # lexicographic struct MIN/MAX — one map-side-combining hash agg,
    # no window pass; the shuffle carries |keys|×|buckets| partials.
    # See operators/events.ohlc_bars for the 100 TB notes.
    from pydala2_spark.operators.events import ohlc_bars

    return ohlc_bars(_t(spark, sf_dir, "events"), freq="hour")



@query(
    "ev_resample_interp",
    """
    WITH per_day AS (
      SELECT user_id, d, v FROM (
        SELECT user_id, date_trunc('day', ts) AS d, value AS v,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), bounds AS (
      SELECT user_id, min(d) AS d0, max(d) AS d1 FROM per_day GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
      FROM bounds
    ), g AS (
      SELECT g.user_id, g.d, p.v,
             last_value(CASE WHEN p.v IS NOT NULL
                             THEN struct_pack(d := g.d, v := p.v) END
                        IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(CASE WHEN p.v IS NOT NULL
                              THEN struct_pack(d := g.d, v := p.v) END
                         IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM grid g LEFT JOIN per_day p
        ON g.user_id = p.user_id AND g.d = p.d
    )
    SELECT user_id,
           strftime(d, '%Y-%m-%d') AS day,
           v IS NOT NULL AS observed,
           round(CASE WHEN v IS NOT NULL THEN v
                      ELSE pv.v + (nv.v - pv.v)
                           * (CAST(date_diff('day', pv.d, d) AS DOUBLE)
                              / date_diff('day', pv.d, nv.d)) END, 4)
             AS value_interp
    FROM g
    """,
)
def ev_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Linear-interpolation gap fill on the daily grid (LOCF's sibling
    # for drifting quantities): silent days take the straight line
    # between surrounding observations; grid spans each entity's
    # first..last observed day. See operators/events.resample_interp
    # for the 100 TB notes.
    from pydala2_spark.operators.events import resample_interp

    return resample_interp(_t(spark, sf_dir, "events"))



@query(
    "ev_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
)
def ev_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-based sessionization: lag → flag → running sum → session id.
    # One shuffle on user_id; all three windows share that partitioning
    # so Catalyst plans a single exchange.
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)) > 1800
    flagged = ev.withColumn(
        "new_session", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )



@query(
    "ev_type_value_stats",
    f"""
    SELECT event_type,
           count(*) AS n,
           round(min(value), 4) AS min_v,
           round(max(value), 4) AS max_v,
           {_oavg("value")} AS avg_v,
           round(quantile_cont(value, 0.5), 4) AS median_v
    FROM events
    GROUP BY event_type
    """,
)
def ev_type_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # percentile via exact interpolated median on the oracle side;
    # Spark median() matches quantile_cont(0.5) semantics.
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("min_v"),
        F.round(F.max("value"), 4).alias("max_v"),
        _davg("value").alias("avg_v"),
        F.round(F.median("value"), 4).alias("median_v"),
    )



@query(
    "asof_click_before_purchase",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, max(event_id) AS click_event
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id AS p_event, p.user_id,
           epoch_us(p.ts) AS ts_us,
           epoch_us(c.ts) AS click_ts_us,
           c.click_event
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join (operators/asof.py): for each purchase, the most
    # recent prior-or-simultaneous click by the same user. One shuffle
    # on user_id — no per-group Python, unlike pandas merge_asof.
    # Clicks are pre-deduped per (user, ts) so ties are well-defined in
    # both engines.
    from pydala2_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = (
        ev.filter("event_type = 'click'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event"))
    )
    joined = asof_join(purchases, clicks, on="ts", by="user_id", direction="backward")
    return joined.select(
        F.col("event_id").alias("p_event"),
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_right").alias("click_ts_us"),
        F.col("click_event_right").alias("click_event"),
    )



@query(
    "asof_nearest_tolerance",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, max(event_id) AS click_event
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id AS p_event, p.user_id,
           epoch_us(p.ts) AS ts_us,
           m.click_ts_us, m.click_event
    FROM p LEFT JOIN LATERAL (
        SELECT epoch_us(c.ts) AS click_ts_us, c.click_event
        FROM c
        WHERE c.user_id = p.user_id
          AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 600000000
        ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC, c.ts ASC
        LIMIT 1
    ) m ON true
    """,
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-direction as-of with a tolerance window: each purchase
    # pairs with the CLOSEST click (either side, <= 600 s away, per
    # user; equidistant resolves backward — the operator's documented
    # tie rule, mirrored by the oracle's ORDER BY ... c.ts ASC). The
    # oracle is a lateral top-1 (O(n*m) in DuckDB); the operator stays
    # the one-shuffle union+window form (operators/asof.py) — nearest
    # adds a second in-partition sort, not a second shuffle.
    from pydala2_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = (
        ev.filter("event_type = 'click'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event"))
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", direction="nearest", tolerance=600
    )
    return joined.select(
        F.col("event_id").alias("p_event"),
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_right").alias("click_ts_us"),
        F.col("click_event_right").alias("click_event"),
    )



@query(
    "range_join_ship_window",
    f"""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           {_osum("l_extendedprice")} AS total
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # equi + range condition: the hash join stays on l_orderkey (the
    # equi part); the range predicate evaluates post-match in codegen —
    # never a nested-loop join.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum("l_extendedprice").alias("total"),
        )
    )



@query(
    "ev_value_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    """,
)
def ev_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact interpolated quantile vector — one percentile() aggregate
    # computes all four cut points in a single pass (shared sort per
    # group), matching quantile_cont semantics. The 100 TB variant is
    # approx_percentile (t-digest, no per-group sort) — exact here so
    # the oracle can hash-match.
    ev = _t(spark, sf_dir, "events")
    q = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(q, 1), 4).alias("p25"),
        F.round(F.element_at(q, 2), 4).alias("p50"),
        F.round(F.element_at(q, 3), 4).alias("p75"),
        F.round(F.element_at(q, 4), 4).alias("p95"),
    )



@query(
    "ev_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """,
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered conversion funnel (view -> click -> purchase, strictly
    # increasing timestamps): each stage is a min-reduce to ONE row per
    # user BEFORE the next equi-join, so the join inputs shrink
    # monotonically — at 100 TB each stage shuffles |users| rows, never
    # |events|, and the final counts are single-row aggregates.
    # Timestamps stay internal (determinism rule: none in the output).
    from pydala2_spark.operators.events import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"]).select(
        F.col("n_0").alias("n_view"),
        F.col("n_1").alias("n_view_click"),
        F.col("n_2").alias("n_full_funnel"),
    )



@query(
    "ev_cohort_retention",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT f.cohort, CAST(a.day - f.cohort AS BIGINT) AS day_offset,
           count(*) AS n_active
    FROM a JOIN f USING (user_id)
    WHERE a.day - f.cohort <= 7
    GROUP BY 1, 2
    """,
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort retention: users grouped by first-seen date, counted on
    # each of their first 8 active days. Two aggs + one equi-join on
    # user_id; the activity side is deduped to (user, day) BEFORE the
    # join so the shuffle carries user-days, not events.
    from pydala2_spark.operators.events import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), max_offset=7)



@query(
    "ev_value_trend",
    """
    WITH b AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS x,
             value AS y
      FROM events
    ), s AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM b GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400, 6)
             AS slope_per_day,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS intercept
    FROM s
    """,
)
def ev_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed-form per-group OLS (value ~ time): one aggregation pass
    # computes n/Σx/Σy/Σxy/Σx² — the distributed way to fit a trend
    # line (no iterations, map-side combined, one shuffle of 5 groups).
    # x is seconds since 2024-01-01 to keep Σx² inside DECIMAL(38,6);
    # every sum accumulates in decimal so partition order can't move a
    # bit, then slope/intercept are derived in double with the same
    # expression shape as the oracle.
    from pydala2_spark.operators.events import grouped_ols_trend

    ev = _t(spark, sf_dir, "events")
    return grouped_ols_trend(
        ev,
        "event_type",
        x=F.unix_timestamp("ts") - F.lit(1704067200),
        y=F.col("value"),
    )



@query(
    "ev_theil_sen",
    f"""
    WITH d AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', date_trunc('day', ts))
               AS t,
             {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT a.event_type,
             (b.x - a.x) / (b.t - a.t) AS sl
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.t < b.t
    ), np AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
      FROM d GROUP BY 1
    ), s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             round(quantile_cont(sl, 0.5), 4) AS slope
      FROM p GROUP BY 1
    ), r AS (
      SELECT d.event_type,
             round(quantile_cont(d.x - s.slope * d.t, 0.5), 4)
               AS intercept
      FROM d JOIN s USING (event_type) GROUP BY 1
    )
    SELECT np.event_type, np.n_points, s.n_pairs, s.slope, r.intercept
    FROM np JOIN s USING (event_type) JOIN r USING (event_type)
    """,
)
def ev_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend LINE per event type over the daily value
    series — the estimator that pairs with ev_mann_kendall's robust
    trend TEST: slope = median of all pairwise daily slopes (breaks
    down only past 29% outliers where ev_value_trend's OLS breaks at
    one), intercept = median residual at the fitted slope. Day numbers
    are integer datediffs; each pairwise slope is one IEEE division,
    identical across engines; the medians follow the percentile
    discipline the quantile queries pin.

    100 TB shape: raw events reduce to (type, day) FIRST (map-side-
    combined decimal sums); the O(days²) pair join runs calendar-
    bounded, never on events. See operators/events.theil_sen_trend."""
    from pydala2_spark.operators.events import theil_sen_trend

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "t"
        ),
    ).agg(_dsum("value", 4).alias("x"))
    return theil_sen_trend(daily, "event_type", "t", "x")



@query(
    "ev_mann_kendall",
    f"""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT a.event_type,
             CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
    ), np AS (
      SELECT event_type, count(*) AS n_points FROM d GROUP BY 1
    ), s AS (
      SELECT event_type,
             CAST(sum(sgn) AS BIGINT) AS s_stat,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_concordant,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discordant,
             CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tied
      FROM p GROUP BY 1
    ), zc AS (
      SELECT np.event_type, np.n_points, s.s_stat,
             s.n_concordant, s.n_discordant, s.n_tied,
             round(CAST(s.s_stat AS DOUBLE)
                   / (CAST(np.n_points AS DOUBLE)
                      * (CAST(np.n_points AS DOUBLE) - 1) / 2.0), 4) AS tau,
             round(CASE
               WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                 / sqrt(CAST(np.n_points AS DOUBLE)
                        * (CAST(np.n_points AS DOUBLE) - 1)
                        * (2 * CAST(np.n_points AS DOUBLE) + 5) / 18.0)
               WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                 / sqrt(CAST(np.n_points AS DOUBLE)
                        * (CAST(np.n_points AS DOUBLE) - 1)
                        * (2 * CAST(np.n_points AS DOUBLE) + 5) / 18.0)
               ELSE 0.0 END, 4) AS z_score
      FROM np JOIN s USING (event_type)
    )
    SELECT event_type, n_points, s_stat, n_concordant, n_discordant,
           n_tied, tau, z_score,
           CASE WHEN z_score > 1.959964 THEN 'increasing'
                WHEN z_score < -1.959964 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM zc
    """,
)
def ev_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test + Kendall's tau per event type
    over the DAILY value series — the nonparametric complement to
    ev_value_trend's OLS slope: sign-based, so robust to outliers and
    invariant under monotone transforms, with an honest significance
    statement (z with continuity correction at the 5% level). Pair
    comparisons are integers; only tau and z divide, so the oracle
    lands bit-for-bit.

    100 TB shape: the raw stream reduces to (type, day) FIRST —
    map-side-combined decimal sums — and the O(days²) pair join runs
    on that calendar-bounded frame (90 days → 4005 pairs per group),
    never on events. See operators/events.mann_kendall."""
    from pydala2_spark.operators.events import mann_kendall

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    mk = mann_kendall(daily, "event_type", "day", "x")
    return mk.select(
        "event_type",
        "n_points",
        "s_stat",
        "n_concordant",
        "n_discordant",
        "n_tied",
        "tau",
        "z_score",
        "trend",
    )



@query(
    "ev_pettitt_change",
    f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), v AS (
      SELECT a.event_type, a.day,
             CAST(sum(CASE WHEN a.x > b.x THEN 1
                           WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS v
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day <> b.day
      GROUP BY 1, 2
    ), u AS (
      SELECT event_type, day,
             CAST(-sum(v) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS u,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), pick AS (
      SELECT event_type, n, day, u, abs(u) AS k,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(u) DESC, rn ASC) AS pr
      FROM u WHERE rn < n
    )
    SELECT event_type,
           n AS n_points,
           strftime(day, '%Y-%m-%d') AS t_star,
           k AS k_stat,
           u AS u_stat,
           round(least(
             2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
             1.0), 4) AS p_approx
    FROM pick WHERE pr = 1
    """,
)
def ev_pettitt_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt single change-point detection per event type over the
    daily value series — WHERE did the distribution shift (the
    monitoring question after ev_mann_kendall's "is there a trend"):
    rank-based so outlier-robust, located via the O(n²) prefix-sum
    identity (one pair join + one window — not the naive O(n³)
    per-candidate rescan). Sign statistics are integers, so t_star,
    K, and U oracle-match exactly; the significance approximation is
    one exp behind round(4) (the repo's linear-counting precedent).

    100 TB shape: the pair join runs on the calendar-bounded daily
    frame, never on events. See operators/events.pettitt_change_point."""
    from pydala2_spark.operators.events import pettitt_change_point

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    out = pettitt_change_point(daily, "event_type", "day", "x")
    return out.select(
        "event_type",
        "n_points",
        F.date_format("t_star", "yyyy-MM-dd").alias("t_star"),
        "k_stat",
        "u_stat",
        "p_approx",
    )



@query(
    "ev_welch_ttest",
    """
    WITH a AS (
      SELECT count(*) AS n_a,
             sum(CAST(value AS DECIMAL(38,6))) AS s_a,
             sum(CAST(value AS DECIMAL(38,6))
                 * CAST(value AS DECIMAL(38,6))) AS ss_a
      FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ), b AS (
      SELECT count(*) AS n_b,
             sum(CAST(value AS DECIMAL(38,6))) AS s_b,
             sum(CAST(value AS DECIMAL(38,6))
                 * CAST(value AS DECIMAL(38,6))) AS ss_b
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), m AS (
      SELECT n_a, n_b,
             CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
             CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
             (CAST(ss_a AS DOUBLE)
              - CAST(n_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
               / (CAST(n_a AS DOUBLE) - 1) AS v_a,
             (CAST(ss_b AS DOUBLE)
              - CAST(n_b AS DOUBLE) * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
               / (CAST(n_b AS DOUBLE) - 1) AS v_b
      FROM a, b
    ), w AS (
      SELECT *, v_a / CAST(n_a AS DOUBLE) AS va_n,
                v_b / CAST(n_b AS DOUBLE) AS vb_n
      FROM m
    )
    SELECT n_a, round(m_a, 4) AS mean_a, round(v_a, 4) AS var_a,
           n_b, round(m_b, 4) AS mean_b, round(v_b, 4) AS var_b,
           round(m_a - m_b, 4) AS mean_diff,
           round((m_a - m_b) / sqrt(va_n + vb_n), 4) AS t_stat,
           round((va_n + vb_n) * (va_n + vb_n)
                 / (va_n * va_n / (CAST(n_a AS DOUBLE) - 1)
                    + vb_n * vb_n / (CAST(n_b AS DOUBLE) - 1)), 2) AS df
    FROM w
    """,
)
def ev_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase
    values — the A/B-testing primitive: mean difference, t statistic,
    Welch-Satterthwaite degrees of freedom. Moments accumulate as
    EXACT decimals (count / sum / sum-of-squares), so the statistic is
    a fixed double sequence both engines replay bit-for-bit.

    100 TB shape: one map-side-combined aggregation per side over a
    scan-stage filter — three numbers per side leave the executors.
    See operators/events.welch_ttest."""
    from pydala2_spark.operators.events import welch_ttest

    ev = _t(spark, sf_dir, "events")
    return welch_ttest(ev, "event_type", "value", "click", "purchase")



def _autocorr_oracle(lags: list[int]) -> str:
    blocks = []
    for k in lags:
        blocks.append(f"""
    SELECT a.event_type, {k} AS lag, count(*) AS n_pairs,
           CASE WHEN count(*) >= 2
                 AND CAST(count(*) AS DOUBLE)
                     * CAST(sum(CAST(a.x AS DECIMAL(38,12))
                                * CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                     - CAST(sum(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                       * CAST(sum(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE) > 0
                 AND CAST(count(*) AS DOUBLE)
                     * CAST(sum(CAST(b.x AS DECIMAL(38,12))
                                * CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                     - CAST(sum(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                       * CAST(sum(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE) > 0
           THEN round(
             (CAST(count(*) AS DOUBLE)
              * CAST(sum(CAST(a.x AS DECIMAL(38,12))
                         * CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
              - CAST(sum(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                * CAST(sum(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE))
             / (sqrt(CAST(count(*) AS DOUBLE)
                     * CAST(sum(CAST(a.x AS DECIMAL(38,12))
                                * CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                     - CAST(sum(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                       * CAST(sum(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE))
                * sqrt(CAST(count(*) AS DOUBLE)
                       * CAST(sum(CAST(b.x AS DECIMAL(38,12))
                                  * CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                       - CAST(sum(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                         * CAST(sum(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE))),
             4)
           END AS autocorr
    FROM i a JOIN i b
      ON a.event_type = b.event_type AND b.idx = a.idx + {k}
    GROUP BY a.event_type""")
    body = "\n    UNION ALL\n".join(blocks)
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), i AS (
      SELECT event_type,
             CAST(day - min(day) OVER (PARTITION BY event_type) AS BIGINT)
               AS idx,
             x
      FROM d
    )
    {body}
    """



@query("ev_autocorr", _autocorr_oracle([1, 7]))
def ev_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 Pearson autocorrelation of the daily value
    series per event type — day-over-day persistence and the weekly
    cycle, the seasonality screen that decides whether ev_value_trend
    or a seasonal model fits. Daily sums carry 4 decimals, so every
    moment over the lag pairs accumulates EXACTLY in decimal and the
    correlation is a fixed double sequence — oracle bit-exact, no
    float-summation drift.

    100 TB shape: one self-equi-join per lag over the
    calendar-bounded daily frame + map-side-combined moments; events
    reduce once. See operators/events.lag_autocorr."""
    from pydala2_spark.operators.events import lag_autocorr

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    w_min = W.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        F.datediff("day", F.min("day").over(w_min)).cast("long").alias("idx"),
        "x",
    )
    return lag_autocorr(idx, "event_type", "idx", "x", lags=[1, 7])



@query(
    "ev_holt_forecast",
    f"""
    WITH RECURSIVE base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base
    ), seed AS (
      SELECT a.event_type, a.n, a.x AS s, b.x - a.x AS b
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.t = 1 AND b.t = 2
    ), hw(event_type, n, t, s, b) AS (
      SELECT event_type, n, 1, s, b FROM seed
      UNION ALL
      SELECT hw.event_type, hw.n, hw.t + 1,
             0.3 * d.x + 0.7 * (hw.s + hw.b),
             0.1 * ((0.3 * d.x + 0.7 * (hw.s + hw.b)) - hw.s) + 0.9 * hw.b
      FROM hw JOIN d
        ON d.event_type = hw.event_type AND d.t = hw.t + 1
    )
    SELECT event_type, n AS n_points,
           round(s, 4) AS level, round(b, 4) AS trend,
           round(s + b, 4) AS f1, round(s + 7 * b, 4) AS f7
    FROM hw WHERE t = n
    """,
)
def ev_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing + 1/7-day forecasts
    per event type over the daily value series — the short-horizon
    forecasting primitive next to the diagnostic stack (trend test,
    change point, autocorrelation). The recursion is inherently
    sequential, so Spark runs it as ONE applyInPandas pass per
    CALENDAR-bounded group, and the oracle replays it as a recursive
    CTE: both sides execute the identical IEEE double sequence with
    no intermediate rounding, so 90 chained smoothing steps still
    land bit-for-bit (rounding happens once, engine-side, at output).

    100 TB shape: events reduce to (type, day) map-side first; the
    smoothing pass moves |groups| x |days| rows through Arrow once —
    group count scales out, series length is calendar-bounded.
    See operators/events.holt_linear_smooth."""
    from pydala2_spark.operators.events import holt_linear_smooth

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    hw = holt_linear_smooth(daily, "event_type", "day", "x", alpha=0.3, beta=0.1)
    return hw.select(
        "event_type",
        "n_points",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("f1", 4).alias("f1"),
        F.round("f7", 4).alias("f7"),
    )



@query(
    "ev_dow_seasonality",
    f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_osum("value", 4)} AS x
      FROM events GROUP BY 1, 2
    ), dw AS (
      SELECT event_type, dayofweek(day) + 1 AS dow,
             count(*) AS n_days,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
      FROM d GROUP BY 1, 2
    ), t AS (
      SELECT event_type,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS tm
      FROM d GROUP BY 1
    )
    SELECT dw.event_type, dw.dow, dw.n_days,
           round(dw.m, 4) AS dow_mean,
           round(dw.m / t.tm, 4) AS seasonal_index
    FROM dw JOIN t USING (event_type)
    """,
)
def ev_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices per event type — the weekly-cycle
    quantification after ev_autocorr's lag-7 screen says there IS
    one: mean daily total per weekday over the type's overall daily
    mean (index 1.0 = no effect). Feed the indices back to deseason a
    series before trend fitting. Daily sums carry 4 decimals, so the
    weekday means are ratios of exact decimal sums — one double
    division each, oracle bit-exact.

    100 TB shape: two map-side-combined aggs over the (type, day)
    reduction; nothing scales with events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    dw = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.col("x").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("m"),
    )
    t = daily.groupBy("event_type").agg(
        (
            F.sum(F.col("x").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("tm")
    )
    return dw.join(t, "event_type").select(
        "event_type",
        "dow",
        "n_days",
        F.round("m", 4).alias("dow_mean"),
        F.round(F.col("m") / F.col("tm"), 4).alias("seasonal_index"),
    )



@query(
    "scd2_point_in_time",
    """
    WITH base AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, round(c_acctbal, 2) AS bal,
             c_mktsegment AS seg
      FROM customer
    ),
    h0 AS (
      SELECT k, bal, seg, CAST(0 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to
      FROM base
    ),
    s1 AS (SELECT k, round(bal + 100, 2) AS bal, seg FROM base WHERE k % 7 = 0),
    aff1 AS (
      SELECT s.k AS k, s.bal AS bal, s.seg AS seg,
             c.bal AS cur_bal, c.seg AS cur_seg, c.valid_from AS cur_vf,
             c.k IS NOT NULL AS has_cur
      FROM s1 s
      LEFT JOIN (SELECT * FROM h0 WHERE valid_to IS NULL) c ON s.k = c.k
      WHERE c.k IS NULL
         OR s.bal IS DISTINCT FROM c.bal OR s.seg IS DISTINCT FROM c.seg
    ),
    h1 AS (
      SELECT h.k, h.bal, h.seg, h.valid_from, h.valid_to FROM h0 h
      WHERE NOT EXISTS (
        SELECT 1 FROM aff1 a
        WHERE a.has_cur AND a.k = h.k AND a.cur_vf = h.valid_from)
      UNION ALL
      SELECT a.k, a.cur_bal, a.cur_seg, a.cur_vf, CAST(1 AS BIGINT)
      FROM aff1 a WHERE a.has_cur
      UNION ALL
      SELECT a.k, a.bal, a.seg, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
      FROM aff1 a
    ),
    s2 AS (SELECT k, round(bal * 2, 2) AS bal, seg FROM base WHERE k % 3 = 0),
    aff2 AS (
      SELECT s.k AS k, s.bal AS bal, s.seg AS seg,
             c.bal AS cur_bal, c.seg AS cur_seg, c.valid_from AS cur_vf,
             c.k IS NOT NULL AS has_cur
      FROM s2 s
      LEFT JOIN (SELECT * FROM h1 WHERE valid_to IS NULL) c ON s.k = c.k
      WHERE c.k IS NULL
         OR s.bal IS DISTINCT FROM c.bal OR s.seg IS DISTINCT FROM c.seg
    ),
    h2 AS (
      SELECT h.k, h.bal, h.seg, h.valid_from, h.valid_to FROM h1 h
      WHERE NOT EXISTS (
        SELECT 1 FROM aff2 a
        WHERE a.has_cur AND a.k = h.k AND a.cur_vf = h.valid_from)
      UNION ALL
      SELECT a.k, a.cur_bal, a.cur_seg, a.cur_vf, CAST(2 AS BIGINT)
      FROM aff2 a WHERE a.has_cur
      UNION ALL
      SELECT a.k, a.bal, a.seg, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
      FROM aff2 a
    ),
    facts AS (
      SELECT CAST(o_custkey AS BIGINT) AS k,
             CAST(o_orderkey % 3 AS BIGINT) AS v
      FROM orders
    )
    SELECT f.v AS version, h.seg,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(h.bal AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS bal_sum
    FROM facts f
    JOIN h2 h
      ON f.k = h.k AND h.valid_from <= f.v
     AND (h.valid_to IS NULL OR f.v < h.valid_to)
    GROUP BY f.v, h.seg
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME dimension lookup over SCD2 history — the
    warehousing primitive the history exists FOR: each fact row joins
    the dimension version that was valid AT ITS OWN TIME
    (valid_from <= t < valid_to), not the current one. Facts = orders
    stamped with a 0/1/2 version clock; the dimension is the same
    two-batch customer history as merge_scd2_history, so a
    balance-at-time aggregate per (version, segment) only lands on
    the oracle if every close-and-reopen interval is exactly right.

    100 TB shape: the PIT join is an equi-join on the key plus a
    range residual — Spark plans the hash join on k and filters the
    interval; history sides are |dim| x versions (small), so it
    broadcasts. See operators/merge.scd2_frames."""
    from pydala2_spark.operators.merge import scd2_frames

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    h0 = base.select(
        "k",
        "bal",
        "seg",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    s1 = base.filter(F.col("k") % 7 == 0).select(
        "k", F.round(F.col("bal") + 100, 2).alias("bal"), "seg"
    )
    h1 = materialize(scd2_frames(h0, s1, keys=["k"], ts=1))
    s2 = base.filter(F.col("k") % 3 == 0).select(
        "k", F.round(F.col("bal") * 2, 2).alias("bal"), "seg"
    )
    h2 = scd2_frames(h1, s2, keys=["k"], ts=2)
    facts = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("k"),
        (F.col("o_orderkey") % 3).cast("long").alias("v"),
    )
    pit = facts.join(
        F.broadcast(h2),
        (facts["k"] == h2["k"])
        & (h2["valid_from"] <= facts["v"])
        & (h2["valid_to"].isNull() | (facts["v"] < h2["valid_to"])),
    )
    return pit.groupBy(
        facts["v"].alias("version"), h2["seg"].alias("seg")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _dsum("bal", 2).alias("bal_sum"),
    )



def _equidepth_oracle() -> str:
    from pydala2_spark.functions.sketch import sample_quantile_oracle_sql

    cuts = {f"b{i}": i / 8 for i in range(1, 8)}
    est = sample_quantile_oracle_sql(
        "events", "event_type", "event_id", "value", k=100000, qs=cuts
    )
    conds = " + ".join(
        f"(CASE WHEN e.value > q.b{i} THEN 1 ELSE 0 END)" for i in range(1, 8)
    )
    return f"""
    WITH q AS ({est})
    SELECT e.event_type,
           CAST({conds} AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(e.value), 4) AS lo,
           round(max(e.value), 4) AS hi
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY 1, 2
    """



@query("ev_equidepth_hist", _equidepth_oracle())
def ev_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram per event type — the planner-statistics
    form (near-equal row counts per bucket, so selectivity estimates
    stay accurate in skewed regions where equi-WIDTH buckets lump
    everything): 7 cut points at the discrete octile quantiles, then
    one pass bucketing every row by comparisons against the broadcast
    boundary row. Boundaries are bit-copies of input values and the
    bucket id is a sum of integer comparisons — oracle-exact. (k in
    the sketch machinery is set above the group size, so the 'sample'
    is exact here; drop k for the sketched variant at scale.)

    100 TB shape: boundary discovery via the quantile machinery; the
    bucketing pass is scan-stage expressions against a broadcast
    |groups| x 7 frame, then a map-side-combined agg — no shuffle of
    events beyond the count reduction."""
    from pydala2_spark.functions.sketch import (
        discrete_quantiles,
        sample_bottom_k_grouped,
    )

    ev = _t(spark, sf_dir, "events")
    cuts = {f"b{i}": i / 8 for i in range(1, 8)}
    state = sample_bottom_k_grouped(
        ev, "event_type", "event_id", "value", k=100000
    )
    q = discrete_quantiles(state, "event_type", "__val", "__key", cuts)
    bucket = sum(
        F.when(F.col("value") > F.col(f"b{i}"), 1).otherwise(0)
        for i in range(1, 8)
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", bucket.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )



@query(
    "ev_markov_transitions",
    """
    WITH s AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), c AS (
      SELECT src, dst, count(*) AS w FROM s
      WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, CAST(w AS BIGINT) AS n_trans,
           round(CAST(w AS DOUBLE)
                 / CAST(sum(w) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
    FROM c
    """,
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (row-normalized next-event probabilities) — the
    journey-model / anomalous-session primitive. One per-user window
    shuffle (millions of small partitions, no funnel), one map-side
    count agg to |types|^2 rows; the normalizing window runs on that
    tiny post-agg frame. p divides exact integers — no accumulation
    hazard. See operators/events.markov_transitions."""
    from pydala2_spark.operators.events import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))



@query(
    "ev_frequent_paths",
    """
    WITH s AS (
      SELECT event_type AS e0,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e1,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e2
      FROM events
    )
    SELECT e0 || '>' || e1 || '>' || e2 AS path,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM s WHERE e2 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 25
    """,
)
def ev_frequent_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most frequent 3-step event paths across user sequences —
    the n-gram flavor of sequential pattern mining (what do users DO,
    in order?). Both leads ride ONE per-user window sort; the count
    agg is map-side combined to at most |types|^3 rows; top-k is one
    TakeOrderedAndProject with a path-text tiebreak.
    See operators/events.frequent_event_paths."""
    from pydala2_spark.operators.events import frequent_event_paths

    return frequent_event_paths(_t(spark, sf_dir, "events"), depth=3, k=25)



def _km_oracle() -> str:
    from pydala2_spark.operators.events import kaplan_meier_oracle_sql

    return kaplan_meier_oracle_sql("SELECT user_id, ts FROM events")



@query("ev_kaplan_meier", _km_oracle())
def ev_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes with right-censoring
    (active within 7 days of corpus end = not churned yet) — the
    estimator that uses censored lifetimes correctly where naive
    retention averages bias down. One per-user agg reduces the corpus
    to |users| rows; the corpus-end bound is a one-row broadcast; the
    cumulative windows run on the calendar-bounded distinct-duration
    frame only. ln(1-d/n) factors round-12 then accumulate as
    DECIMAL(38,12). See operators/events.kaplan_meier."""
    from pydala2_spark.operators.events import kaplan_meier

    return kaplan_meier(_t(spark, sf_dir, "events"))



def _concurrency_oracle() -> str:
    from pydala2_spark.operators.events import concurrency_oracle_sql

    return concurrency_oracle_sql()



@query("ev_concurrency_peak", _concurrency_oracle())
def ev_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions (sweep-line over the 30-minute-gap
    session intervals): +1/-1 deltas in (time, starts-first) order,
    running sum via skew.distributed_prefix — the capacity question
    answered with NO global-window funnel; peak and first-peak-time
    collapse to one-row broadcasts.
    See operators/events.concurrency_sweep."""
    from pydala2_spark.operators.events import concurrency_sweep

    return concurrency_sweep(_t(spark, sf_dir, "events"))



@query(
    "ev_interarrival_stats",
    """
    WITH g AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS gap
      FROM events
    ), f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
    a AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_gaps,
             sum(CAST(gap AS DECIMAL(38,0))) AS s,
             sum(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0)))
               AS ss,
             round(quantile_cont(gap, 0.5), 1) AS p50,
             round(quantile_cont(gap, 0.9), 1) AS p90
      FROM f GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 2) AS mean_s,
           round(sqrt((CAST(ss AS DOUBLE)
                       - CAST(n_gaps AS DOUBLE)
                         * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                      / (CAST(n_gaps AS DOUBLE) - 1.0))
                 / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 4) AS cv,
           p50, p90
    FROM a
    """,
)
def ev_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time statistics per event type (mean gap,
    coefficient of variation, p50/p90) — the burstiness / Poisson-ness
    diagnostic: cv ~ 1 is memoryless traffic, >> 1 is bursty,
    << 1 is scheduled. Gaps are integer seconds, so the moment sums
    are exact DECIMAL(38,0) and cv is a fixed IEEE expression; the
    percentiles follow the ev_type_value_stats interpolation
    contract. One (user, type) window shuffle + one map-side agg."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    sec = F.col("ts").cast("long")
    g = ev.withColumn("gap", sec - F.lag(sec).over(w)).filter(
        F.col("gap").isNotNull()
    )
    d = F.col("gap").cast("decimal(38,0)")
    a = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(d).alias("__s"),
        F.sum(d * d).alias("__ss"),
        F.round(F.percentile("gap", F.lit(0.5)), 1).alias("p50"),
        F.round(F.percentile("gap", F.lit(0.9)), 1).alias("p90"),
    )
    n = F.col("n_gaps").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    mean = s / n
    return a.select(
        "event_type",
        "n_gaps",
        F.round(mean, 2).alias("mean_s"),
        F.round(
            F.sqrt((ss - n * mean * mean) / (n - F.lit(1.0))) / mean, 4
        ).alias("cv"),
        "p50",
        "p90",
    )



def _hw_oracle() -> str:
    from pydala2_spark.operators.events import holt_winters_oracle_sql

    daily = (
        "SELECT event_type AS grp, CAST(ts AS DATE) AS day, "
        f"{_osum('value', 4)} AS x FROM events GROUP BY 1, 2"
    )
    return holt_winters_oracle_sql(daily)



@query("ev_holt_winters", _hw_oracle())
def ev_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing per event
    type with weekly seasonality — ev_holt_forecast plus the rotating
    seasonal state, so f1/f7 carry the day-of-week effect the linear
    model flattens. Same contract: one applyInPandas pass over the
    calendar-bounded daily series, the oracle replays the identical
    IEEE sequence as a recursive CTE carrying the seasonal LIST.
    See operators/events.holt_winters_additive."""
    from pydala2_spark.operators.events import holt_winters_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        _dsum("value", 4).alias("x")
    )
    hw = holt_winters_additive(daily, "event_type", "day", "x")
    return hw.select(
        "event_type",
        "n_points",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("season_next", 4).alias("season_next"),
        F.round("f1", 4).alias("f1"),
        F.round("f7", 4).alias("f7"),
    )



def _cohort_ltv_oracle() -> str:
    from pydala2_spark.operators.events import cohort_ltv_oracle_sql

    return cohort_ltv_oracle_sql()



@query("ev_cohort_ltv", _cohort_ltv_oracle())
def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle (per first-purchase-day cohort: daily
    revenue, running cumulative, LTV per user) — the payback curve
    beside ev_cohort_retention's activity counts. Decimal revenue end
    to end; the cumulative window runs on the calendar-bounded cell
    frame only. See operators/events.cohort_ltv."""
    from pydala2_spark.operators.events import cohort_ltv

    return cohort_ltv(_t(spark, sf_dir, "events"))



def _rfm_oracle() -> str:
    from pydala2_spark.operators.events import rfm_oracle_sql

    return rfm_oracle_sql()



@query("ev_rfm_scores", _rfm_oracle())
def ev_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation (recency/frequency/monetary 1..5
    grid with user counts and mean spend) — the customer-value rollup
    next to ev_cohort_retention. Every ntile is a distributed_ntile
    (range shuffle + broadcast offsets over the USER-grain frame), so
    no global window funnels the user table through one task; the
    user frame is materialized once for its three scoring passes.
    See operators/events.rfm_scores."""
    from pydala2_spark.operators.events import rfm_scores

    return rfm_scores(_t(spark, sf_dir, "events"))



def _attribution_oracle() -> str:
    from pydala2_spark.operators.events import attribution_oracle_sql

    return attribution_oracle_sql()



@query("ev_attribution", _attribution_oracle())
def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: per channel, first-touch / last-touch
    conversion counts plus linear and U-shaped position-based credit
    over 7-day lookback paths ending at each purchase — the marketing
    counterpart to ev_funnel's ordered-step counts. One user_id
    equi-join builds the paths (fanout bounded by per-user activity),
    per-conversion windows share one hash exchange, credits accumulate
    as round-12 DECIMAL(38,12).
    See operators/events.attribution_credit."""
    from pydala2_spark.operators.events import attribution_credit

    return attribution_credit(_t(spark, sf_dir, "events"))



_PG_PERIODS = [6, 8, 12, 24, 48, 168]



def _periodogram_oracle() -> str:
    from pydala2_spark.operators.events import periodogram_oracle_sql

    return periodogram_oracle_sql(_PG_PERIODS)



@query("ev_periodogram", _periodogram_oracle())
def ev_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power at candidate periods (6h..weekly) over the hourly
    event-count series — cycle detection that NAMES the period where
    ev_autocorr answers yes/no at a chosen lag. Trig weights are
    driver-computed full-repr literals joined on (period, t mod p),
    so no libm call happens inside either engine; products round-12
    then accumulate as DECIMAL(38,12). One hourly groupBy, one
    broadcast weight join, one |periods|-group agg.
    See operators/events.periodogram."""
    from pydala2_spark.operators.events import periodogram

    return periodogram(_t(spark, sf_dir, "events"), _PG_PERIODS)



def _granger_oracle() -> str:
    from pydala2_spark.operators.events import granger_oracle_sql

    return granger_oracle_sql("purchase", "click")



@query("ev_granger_lag", _granger_oracle())
def ev_granger_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag screen: does yesterday's click value
    explain today's purchase value beyond yesterday's purchases?
    Closed-form restricted-vs-full OLS (Cramer's rule on exact
    decimal moments) with the incremental-F statistic — the pre-test
    before a cross-series forecasting feature ships. Daily decimal
    reductions, calendar equi-joins, one single-row moment aggregate.
    See operators/events.granger_lag_f."""
    from pydala2_spark.operators.events import granger_lag_f

    return granger_lag_f(_t(spark, sf_dir, "events"), "purchase", "click")



def _seasonal_oracle() -> str:
    from pydala2_spark.operators.events import seasonal_decompose_oracle_sql

    return seasonal_decompose_oracle_sql()



@query("ev_seasonal_decompose", _seasonal_oracle())
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive STL-lite decomposition of daily event counts: trend =
    centered 7-day moving average (full windows only), seasonal =
    per-day-of-week mean residual — separates "Mondays are slow" from
    "the corpus is growing", which ev_dow_seasonality's raw means
    conflate. The moving average is a +-3-day range equi-join on the
    calendar-bounded daily frame, not a window funnel; residuals
    round-6 then accumulate as DECIMAL(38,6).
    See operators/events.seasonal_decompose_dow."""
    from pydala2_spark.operators.events import seasonal_decompose_dow

    return seasonal_decompose_dow(_t(spark, sf_dir, "events"))



# =====================================================================
# Round-11 batch 3: seasonal anomalies, entropy profile, truncation
# =====================================================================


def _seasonal_anomaly_oracle() -> str:
    from pydala2_spark.operators.events import seasonal_anomaly_oracle_sql

    return seasonal_anomaly_oracle_sql()



@query("ev_anomaly_seasonal", _seasonal_anomaly_oracle())
def ev_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly screen: remove the 7-day centered-MA
    trend and the day-of-week index, THEN robust-z (median/MAD) the
    remainder — so a quiet Sunday is not an "anomaly" and a bad
    Tuesday is not hidden inside the weekly cycle, the two failure
    modes of ev_anomaly_days' raw screen. All window work happens on
    the calendar-bounded daily frame.
    See operators/events.seasonal_anomaly_days."""
    from pydala2_spark.operators.events import seasonal_anomaly_days

    return seasonal_anomaly_days(_t(spark, sf_dir, "events"))



def _streaks_oracle() -> str:
    from pydala2_spark.operators.events import active_streaks_oracle_sql

    return active_streaks_oracle_sql()



@query("ev_active_streaks", _streaks_oracle())
def ev_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, as a histogram
    (streak_len, n_users) — the habit/engagement metric next to
    cohort retention's calendar view. Gaps-and-islands with the
    row_number window partitioned BY USER (keyed shuffle, never a
    global funnel); events reduce map-side to user-day grain first.
    See operators/events.active_streaks."""
    from pydala2_spark.operators.events import active_streaks

    return active_streaks(_t(spark, sf_dir, "events"))



def _dau_oracle() -> str:
    from pydala2_spark.operators.events import dau_wau_mau_oracle_sql

    return dau_wau_mau_oracle_sql()



@query("ev_dau_wau_mau", _dau_oracle())
def ev_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day / trailing-30-day active users with the
    DAU/MAU stickiness ratio per day — the canonical engagement
    rollup. Trailing windows are explode(sequence(0, w-1)) equi-joins
    over the user-day grain (strictly bounded x7/x30 fan-out),
    two-phase-distinct counted — never a sliding distinct over raw
    events and never a nested-loop range join (the r11 shape, denied
    by the plan sweep since r12). See operators/events.dau_wau_mau."""
    from pydala2_spark.operators.events import dau_wau_mau

    return dau_wau_mau(_t(spark, sf_dir, "events"))



def _growth_oracle() -> str:
    from pydala2_spark.operators.events import growth_accounting_oracle_sql

    return growth_accounting_oracle_sql()



@query("ev_growth_accounting", _growth_oracle())
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — every active user classified
    new / retained / resurrected, prior-week churn, and the quick
    ratio — the canonical growth decomposition upstream of any MAU
    topline (and of ev_dau_wau_mau's stickiness). All equi-joins on
    the reduced |user|x|weeks| grain; no windows, no range joins.
    See operators/events.growth_accounting."""
    from pydala2_spark.operators.events import growth_accounting

    return growth_accounting(_t(spark, sf_dir, "events"))



def _did_oracle() -> str:
    from pydala2_spark.operators.events import diff_in_diff_oracle_sql

    return diff_in_diff_oracle_sql("value", "user_id % 2 = 0")



@query("ev_diff_in_diff", _did_oracle())
def ev_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (treated = even user ids,
    pre/post split at the deterministic calendar midpoint): cancels
    both group baseline and common time trend — the experiment
    analysis a unit-randomized launch needs where ev_welch_ttest's
    plain two-sample comparison conflates them. ONE corpus pass
    computes all four cells' exact decimal moments.
    See operators/events.diff_in_diff."""
    from pydala2_spark.operators.events import diff_in_diff

    return diff_in_diff(
        _t(spark, sf_dir, "events"),
        treat_col=F.col("user_id") % 2 == 0,
    )


def _cuped_oracle() -> str:
    from pydala2_spark.operators.events import cuped_oracle_sql

    return cuped_oracle_sql("value", "user_id % 2 = 0")


@query("ev_cuped", _cuped_oracle())
def ev_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment estimate (Deng et al., WSDM
    2013) on event values, treatment = even user ids — the readout an
    experimentation platform runs beside ev_diff_in_diff: pre-period
    user means as the control covariate, ``theta = cov/var`` pooled,
    the global covariate mean cancelling in the between-group
    difference, and the achieved variance reduction (corr^2) reported.
    ONE groupBy(user) + ONE moment aggregate. See
    operators/events.cuped for the determinism ladder and 100 TB
    notes."""
    from pydala2_spark.operators.events import cuped

    return cuped(
        _t(spark, sf_dir, "events"),
        treat_col=F.col("user_id") % 2 == 0,
    )


def _burstiness_oracle() -> str:
    from pydala2_spark.operators.events import burstiness_oracle_sql

    return burstiness_oracle_sql("events", "event_type", "ts", "event_id")


@query("ev_burstiness", _burstiness_oracle())
def ev_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival burstiness (Goh-Barabási B index from the
    gap CV) — the arrival-process shape behind ev_hourly_rollup's
    volumes and stream_cusum_alarm's thresholds: B near 0 says Poisson
    sizing is safe, B -> 1 says p99 queue depth is far beyond what the
    mean rate implies. Gaps come from ONE distributed range-prefix +
    rank-equi successor join (the sequence_gaps shape), never a
    one-task per-type window. See operators/events.burstiness."""
    from pydala2_spark.operators.events import burstiness

    return burstiness(_t(spark, sf_dir, "events"), "event_type", "ts", "event_id")


def _power_mde_oracle() -> str:
    from pydala2_spark.operators.events import power_mde_oracle_sql

    return power_mde_oracle_sql("value", "user_id", rel_effect=0.01)


@query("ev_power_mde", _power_mde_oracle())
def ev_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design power analysis on the event value metric: the
    minimum detectable effect a user-randomized A/B could resolve with
    the observed user count and user-level variance (alpha=0.05,
    power=0.8), plus the per-arm sample size a 1% relative effect
    would need — the go/no-go readout that precedes ev_cuped /
    ev_diff_in_diff. User-level variance (per-user means), never row
    variance. See operators/events.power_mde."""
    from pydala2_spark.operators.events import power_mde

    return power_mde(_t(spark, sf_dir, "events"), "value", "user_id", 0.01)


def _halflife_oracle() -> str:
    from pydala2_spark.operators.events import retention_halflife_oracle_sql

    return retention_halflife_oracle_sql(max_offset=14)


@query("ev_retention_halflife", _halflife_oracle())
def ev_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: log-linear decay fit over the pooled
    cohort retention curve (full-observation-window cohorts only — no
    right-censoring bias) — the one-number summary of
    ev_cohort_retention's triangle, with day-1/day-7 rates alongside.
    Exact-integer rates, round-12 ln ladder, closed-form OLS on the
    O(offsets) frame. See operators/events.retention_halflife."""
    from pydala2_spark.operators.events import retention_halflife

    return retention_halflife(_t(spark, sf_dir, "events"), max_offset=14)
