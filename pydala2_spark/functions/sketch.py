"""Distributed data sketches built from first principles: HyperLogLog
distinct-count and Count-Min frequency, both DETERMINISTIC and
engine-portable (md5-derived hashes, integer bit ops, and a shared
decimal literal table), so a DuckDB oracle can reproduce every register
and counter bit-for-bit.

Reference analogue: none — the reference delegates aggregation to its
embedded DuckDB (`/root/reference/pydala/table.py:940-958`). Sketches
are the 100 TB answer to "how many distinct / how frequent" when the
exact answer's shuffle is the bottleneck: registers and counters are
tiny, merge associatively (map-side combine does almost all the work),
and the final state is O(m) per group regardless of input size.

Determinism design (why this oracle-matches when floating HLLs can't):
- the 60-bit hash is ``conv(substr(md5(x), 1, 15), 16, 10)`` — both
  engines parse the same 15 hex chars;
- register index / remaining-bits split uses ``&`` and ``>>`` only;
- the leading-zero count is an explicit integer CASE chain (no log2);
- the harmonic sum accumulates DECIMAL literals from
  :data:`POW2_NEG` — the exact same 20-decimal strings in Spark and
  SQL — so summation order cannot move a bit;
- the only transcendental (ln in linear-counting) sits behind a
  branch whose inputs are exact integers/doubles, and results round
  to 2 decimals.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize

#: shared 2^-k literal table (k = 1..61), rounded to 20 decimals —
#: imported by the oracle-SQL builders so both engines sum the exact
#: same decimal values.
POW2_NEG: dict[int, str] = {k: f"{2 ** -k:.20f}" for k in range(1, 62)}


def hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m >= 128."""
    return 0.7213 / (1.0 + 1.079 / m)


def hash60(col: Column) -> Column:
    """Deterministic 60-bit non-negative hash: first 15 hex chars of
    md5(string(x)). Scan-stage, JVM-side, oracle = ('0x'||substr)::BIGINT."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def leading_zero_rank(v: Column, bits: int) -> Column:
    """Position of the highest set bit from the MSB side, 1-based —
    rho(v) over a ``bits``-wide value; all-zero maps to bits+1.
    Explicit integer comparison chain: no float log anywhere."""
    expr = None
    for k in range(1, bits + 1):
        cond = v >= (1 << (bits - k))
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(bits + 1)


def hll_count_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 7,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate with the standard
    linear-counting small-range correction, PLUS the exact distinct
    count (free: distinct values partition across registers, so the
    per-register exact counts sum to the group's exact count).

    Output: ``(group_col, hll_estimate, exact_distinct, n_registers_hit)``.

    NULL handling: NULLs are not distinct values (``countDistinct``
    semantics), so they are filtered BEFORE grouping — a group whose
    values are ALL NULL produces no output row at all, where a plain
    ``groupBy().countDistinct()`` would return it with count 0. A
    caller that needs 0-rows for all-NULL groups should left-join this
    result back to the group universe and coalesce to 0.

    100 TB shape: two hash aggregations. The first reduces the corpus
    to |groups| x m register rows with map-side combine (max(rho) and
    the per-register distinct both combine); the second folds m
    registers per group. Nothing downstream ever sees raw values — at
    1000 executors the register frame is kilobytes per group. The
    estimate itself is the scale play: a streaming/approximate
    pipeline keeps ONLY registers, merged associatively across files,
    days, or partitions.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    bits = 60 - p
    # NULLs never count as a distinct value (countDistinct ignores
    # them); unfiltered, md5(NULL) yields a NULL register row that
    # perturbs the hit/empty-register split and the estimate
    # (ADVICE r7). Mirrored in hll_oracle_sql.
    df = df.filter(F.col(value_col).isNotNull())
    h = hash60(F.col(value_col))
    idx = h.bitwiseAND(m - 1)
    rho = leading_zero_rank(F.shiftright(h, p), bits)

    lookup = F.array(*[F.lit(Decimal(POW2_NEG[k])) for k in range(1, bits + 2)])
    reg = df.select(
        F.col(group_col), idx.alias("__idx"), rho.alias("__rho"), F.col(value_col)
    )
    per_reg = reg.groupBy(group_col, "__idx").agg(
        F.max("__rho").alias("__r"),
        F.countDistinct(value_col).alias("__nd"),
    )
    folded = per_reg.groupBy(group_col).agg(
        F.sum(F.element_at(lookup, F.col("__r"))).alias("__z_hit"),
        F.count(F.lit(1)).alias("__hit"),
        F.sum("__nd").alias("exact_distinct"),
    )
    # empty registers contribute 2^0 = 1 each to the harmonic sum
    zeros = F.lit(m) - F.col("__hit")
    z = F.col("__z_hit").cast("double") + zeros.cast("double")
    e_raw = F.lit(hll_alpha(m) * m * m) / z
    est = F.when(
        (zeros > 0) & (e_raw <= 2.5 * m),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")), 2),
    ).otherwise(F.round(e_raw, 2))
    return folded.select(
        F.col(group_col),
        est.alias("hll_estimate"),
        F.col("exact_distinct"),
        F.col("__hit").alias("n_registers_hit"),
    )


def hll_oracle_sql(
    table: str, group_col: str, value_col: str, p: int = 7
) -> str:
    """DuckDB SQL reproducing :func:`hll_count_distinct` bit-for-bit —
    same md5 hash split, same CASE chain, same decimal literals."""
    m = 1 << p
    bits = 60 - p
    branches = "\n               ".join(
        f"WHEN v >= {1 << (bits - k)} THEN {k}" for k in range(1, bits + 1)
    )
    pow_cases = "\n                    ".join(
        f"WHEN {k} THEN CAST({POW2_NEG[k]} AS DECIMAL(38,20))"
        for k in range(1, bits + 2)
    )
    alpha_m2 = hll_alpha(m) * m * m
    return f"""
    WITH h AS (
      SELECT {group_col} AS g, {value_col} AS val,
             ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM {table}
      WHERE {value_col} IS NOT NULL
    ), r AS (
      SELECT g, val, h & {m - 1} AS idx,
             CASE {branches}
               ELSE {bits + 1} END AS rho
      FROM (SELECT g, val, h, h >> {p} AS v FROM h)
    ), per_reg AS (
      SELECT g, idx, max(rho) AS r, count(DISTINCT val) AS nd
      FROM r GROUP BY g, idx
    ), folded AS (
      SELECT g,
             sum(CASE r {pow_cases} END) AS z_hit,
             count(*) AS hit,
             CAST(sum(nd) AS BIGINT) AS exact_distinct
      FROM per_reg GROUP BY g
    )
    SELECT g AS {group_col},
           CASE WHEN ({m} - hit) > 0
                 AND {alpha_m2!r} / (CAST(z_hit AS DOUBLE) + ({m} - hit))
                     <= {2.5 * m}
                THEN round({float(m)!r} * ln({float(m)!r} / ({m} - hit)), 2)
                ELSE round(
                  {alpha_m2!r} / (CAST(z_hit AS DOUBLE) + ({m} - hit)), 2)
           END AS hll_estimate,
           exact_distinct,
           hit AS n_registers_hit
    FROM folded"""


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    value_col: str,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Count-Min counter table over ``value_col``: ``depth``
    independent md5-salted hash rows x ``width`` buckets, each counter
    the number of input rows landing in it. Output:
    ``(row_id, bucket, cnt)`` — at most depth*width rows TOTAL.

    100 TB shape: one Expand (x depth) + one map-side-combining hash
    agg — the counter table is O(d*w) no matter the input, merges by
    addition across any partitioning of the corpus, and broadcasts for
    the estimate join. The classic trade: width bounds the
    overestimate (eps ~ e/width), depth bounds its probability.
    """
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    rows = F.array(*[F.lit(j) for j in range(depth)])
    out = (
        df.select(F.explode(rows).alias("row_id"), F.col(value_col).alias("__v"))
        .select(
            "row_id",
            cms_bucket(F.col("row_id"), F.col("__v"), width).alias("bucket"),
        )
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Carry the sketch geometry IN the frame (column metadata on
    # ``bucket``): probing with a different width recomputes buckets
    # over the wrong modulus and the min over misaligned counters can
    # come back BELOW the true count — silently breaking the
    # Count-Min >= truth guarantee (ADVICE r7). cms_estimate reads and
    # validates this, so a build/probe mismatch is a loud error.
    # CAVEAT (ADVICE r8): the stamp rides COLUMN METADATA, which Spark
    # drops under expr-selects/casts and resolves from the FIRST child
    # on union. Counter frames may only be merged (unionAll + re-agg by
    # sum) when they share geometry — a mixed-width union keeps the
    # first frame's stamp and validates against the wrong width.
    # cms_estimate additionally cross-checks the stamped depth against
    # the distinct row_id count, which catches mixed-DEPTH merges.
    return out.withColumn(
        "bucket",
        F.col("bucket").alias(
            "bucket", metadata={"cms_width": width, "cms_depth": depth}
        ),
    )


def cms_bucket(row_id: Column, value: Column, width: int) -> Column:
    """Bucket of ``value`` in hash row ``row_id``: first 8 md5 hex
    chars of 'cms<row>:<value>' mod width — integer-only, oracle-portable."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cms"), row_id.cast("string"), F.lit(":"),
                           value.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return h % width


def cms_estimate(
    counters: DataFrame,
    items: DataFrame,
    value_col: str,
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """Point-frequency estimates: for each item, min over hash rows of
    its bucket counter (the Count-Min guarantee: est >= true, and
    est <= true + eps*N with prob 1 - (1/2)^depth). Items missing from
    a bucket row estimate 0 via the left join's coalesce.

    ``width`` defaults to the geometry :func:`cms_build` stamped into
    the counter frame's ``bucket`` column metadata; passing a width
    that DISAGREES with the stamp raises (probing over the wrong
    modulus silently returns estimates below the true count —
    ADVICE r7). An explicit width is only required for counter frames
    built outside :func:`cms_build` (e.g. a raw streaming state store
    read), which carry no stamp. ``depth`` works the same way: it
    defaults to the stamp (mismatch raises), and passing it explicitly
    for an unstamped frame gives that frame the zero-pass probe list
    too (hash rows are range(depth) for anything built with
    :func:`cms_bucket` row ids).

    The counter table broadcasts (it is <= depth*width rows by
    construction), so the estimate join never shuffles ``items``.

    Merged counter frames must share geometry: column metadata rides
    the FIRST union child, so a mixed-width unionAll validates against
    the wrong modulus undetected. Mixed-DEPTH merges are SAFE by
    construction here: a stamped frame is probed on exactly
    ``range(cms_depth)`` (cms_build mints those row ids, and row
    ``j``'s hash function is depth-independent), so extra hash rows
    from a deeper frame are simply ignored — the min runs over fewer
    rows, which can only keep the estimate >= truth. The probe list
    therefore costs NO data pass for stamped frames; only unstamped
    external frames (e.g. a raw streaming state read) pay one bounded
    materialization to discover their hash rows.
    """
    missing = [c for c in ("row_id", "bucket", "cnt") if c not in counters.columns]
    if missing:
        raise ValueError(
            f"cms_estimate: counters frame lacks column(s) {missing} — this "
            "is not a cms_build counter table (expected columns "
            "(row_id, bucket, cnt))"
        )
    stamped = stamped_depth = None
    try:
        md = counters.schema["bucket"].metadata or {}
        stamped = int(md["cms_width"]) if "cms_width" in md else None
        stamped_depth = int(md["cms_depth"]) if "cms_depth" in md else None
    except (TypeError, ValueError):
        stamped = stamped_depth = None
    if width is None:
        if stamped is None:
            raise ValueError(
                "counter frame carries no cms_width stamp (not built by "
                "cms_build?) — pass width= explicitly, and make sure it "
                "matches the build width"
            )
        width = stamped
    elif stamped is not None and width != stamped:
        raise ValueError(
            f"width mismatch: counters were built with width={stamped} "
            f"but cms_estimate was called with width={width} — probing "
            f"over the wrong modulus breaks the Count-Min >= truth "
            f"guarantee"
        )
    if depth is not None and stamped_depth is not None and depth != stamped_depth:
        raise ValueError(
            f"depth mismatch: counters were built with depth={stamped_depth} "
            f"but cms_estimate was called with depth={depth}"
        )
    known_depth = depth if depth is not None else stamped_depth
    if known_depth is not None:
        # cms_build-shaped frames: the hash rows are range(depth) BY
        # CONSTRUCTION, so the probe list is known without touching
        # data — the whole estimate stays ONE pass over the counters
        # lineage (the join side), zero extra actions. A mixed-depth
        # merge degrades safely to the stamped (first child) depth:
        # its extra rows are never probed, and min over fewer rows
        # still satisfies estimate >= truth.
        row_ids = list(range(known_depth))
    else:
        # unstamped external frame (explicit width): the hash-row set
        # is unknown — materialize the bounded counter table once
        # (lazy, one partition; its lineage may be a corpus scan, and
        # the collect + join would otherwise each re-run it) and
        # discover the rows with one driver collect.
        counters = materialize(counters.coalesce(1))
        row_ids = sorted(
            r["row_id"] for r in counters.select("row_id").distinct().collect()
        )
    # recompute buckets item-side (one row per hash row of the sketch);
    # then join the counter table on (row, bucket)
    if not row_ids:  # empty counter table → no estimates (as before)
        return items.select(F.col(value_col)).limit(0).withColumn(
            "cms_estimate", F.lit(0).cast("long")
        )
    rid_type = counters.schema["row_id"].dataType.simpleString()
    probes = items.select(
        F.col(value_col),
        F.explode(
            F.array(*[F.lit(int(i)) for i in row_ids]).cast(f"array<{rid_type}>")
        ).alias("row_id"),
    ).select(
        F.col(value_col),
        F.col("row_id"),
        cms_bucket(F.col("row_id"), F.col(value_col), width).alias("bucket"),
    )
    joined = probes.join(F.broadcast(counters), ["row_id", "bucket"], "left")
    return (
        joined.groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )


def cms_oracle_sql(
    table: str, value_col: str, items_sql: str, depth: int = 3, width: int = 64
) -> str:
    """DuckDB SQL reproducing cms_build + cms_estimate exactly over
    ``table``, probing the item set produced by ``items_sql`` (a query
    yielding one column named like ``value_col``)."""
    return f"""
    WITH rows_ AS (SELECT unnest(range({depth})) AS row_id),
    counters AS (
      SELECT row_id,
             ('0x' || substr(md5('cms' || CAST(row_id AS VARCHAR) || ':'
                || CAST({value_col} AS VARCHAR)), 1, 8))::BIGINT % {width}
               AS bucket,
             count(*) AS cnt
      FROM {table} CROSS JOIN rows_
      GROUP BY 1, 2
    ), items AS ({items_sql}),
    probes AS (
      SELECT i.{value_col}, r.row_id,
             ('0x' || substr(md5('cms' || CAST(r.row_id AS VARCHAR) || ':'
                || CAST(i.{value_col} AS VARCHAR)), 1, 8))::BIGINT % {width}
               AS bucket
      FROM items i CROSS JOIN rows_ r
    )
    SELECT p.{value_col},
           CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate
    FROM probes p LEFT JOIN counters c
      ON p.row_id = c.row_id AND p.bucket = c.bucket
    GROUP BY 1"""


def hll_registers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 7,
) -> DataFrame:
    """The MERGEABLE HLL state: ``(group_col, idx, r)`` — one row per
    touched register holding the max rho. Register frames from
    disjoint (or overlapping!) slices of a corpus merge by
    ``groupBy(group, idx).max(r)`` into exactly the full-corpus state,
    which is what makes HLL the streaming/incremental answer to
    distinct counting: max is algebraic, so a streaming aggregation
    maintains this frame with bounded state (<= |groups| x 2^p rows,
    FOREVER) — see streaming/pipeline.hll_stream.

    Same NULL rule as :func:`hll_count_distinct`: a group whose values
    are all NULL mints no register rows and therefore vanishes from the
    output (left-join back to the group universe for 0-rows).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    bits = 60 - p
    # same NULL rule as hll_count_distinct: a NULL value is not a
    # distinct value and must not mint a NULL register row
    df = df.filter(F.col(value_col).isNotNull())
    h = hash60(F.col(value_col))
    return (
        df.select(
            F.col(group_col),
            h.bitwiseAND(m - 1).alias("idx"),
            leading_zero_rank(F.shiftright(h, p), bits).alias("__rho"),
        )
        .groupBy(group_col, "idx")
        .agg(F.max("__rho").alias("r"))
    )


def hll_estimate_from_registers(
    registers: DataFrame,
    group_col: str,
    p: int = 7,
) -> DataFrame:
    """Fold a :func:`hll_registers` frame into per-group estimates —
    identical arithmetic to :func:`hll_count_distinct` (same decimal
    literal table, same linear-counting branch), so an estimate from
    merged register state equals the single-pass answer bit-for-bit.
    Output: ``(group_col, hll_estimate, n_registers_hit)``.
    """
    m = 1 << p
    bits = 60 - p
    lookup = F.array(*[F.lit(Decimal(POW2_NEG[k])) for k in range(1, bits + 2)])
    folded = registers.groupBy(group_col).agg(
        F.sum(F.element_at(lookup, F.col("r"))).alias("__z_hit"),
        F.count(F.lit(1)).alias("__hit"),
    )
    zeros = F.lit(m) - F.col("__hit")
    z = F.col("__z_hit").cast("double") + zeros.cast("double")
    e_raw = F.lit(hll_alpha(m) * m * m) / z
    est = F.when(
        (zeros > 0) & (e_raw <= 2.5 * m),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")), 2),
    ).otherwise(F.round(e_raw, 2))
    return folded.select(
        F.col(group_col),
        est.alias("hll_estimate"),
        F.col("__hit").alias("n_registers_hit"),
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k / K-minimum-values) sketch
# ---------------------------------------------------------------------------


def kmv_bottom_k(hashes: DataFrame, k: int = 64) -> DataFrame:
    """The k smallest distinct hashes — the KMV state (Bar-Yossef et
    al. 2002). ``orderBy(h).limit(k)`` compiles to Spark's
    TakeOrderedAndProject: every partition keeps a LOCAL bottom-k and
    only k rows per partition reach the driver-side merge — no
    single-partition window skew, which is what makes this the 100 TB
    shape (a ``row_number`` over one global ordering would funnel the
    whole distinct set through one task).

    KMV states MERGE by union + re-bottom-k, and unlike HLL registers
    the state supports SET OPERATIONS: the bottom-k of a union is
    computable from the per-set states alone, and intersection follows
    from Jaccard over the union sketch (the fraction of the union's
    bottom-k present in both sets) — see :func:`kmv_estimate_expr` and
    the ``agg_kmv_set_ops`` registry query.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return hashes.orderBy("h").limit(k)


def kmv_estimate_expr(nd_col: str, hk_col: str, k: int) -> Column:
    """Distinct-count estimate from a KMV state summary: exact below
    ``k`` (the sketch holds the whole set), else the unbiased
    ``(k-1) * 2^60 / h_k`` with ``h_k`` the k-th smallest hash —
    integer inputs, one IEEE division, round(2): oracle-portable."""
    return F.when(
        F.col(nd_col) <= k, F.col(nd_col).cast("double")
    ).otherwise(F.round(F.lit(float((k - 1) * (1 << 60))) / F.col(hk_col), 2))


def kmv_bottom_k_grouped(
    hashes: DataFrame,
    group_col: str,
    k: int = 64,
    salt: int = 16,
) -> DataFrame:
    """Per-GROUP KMV states — ``(group_col, h)`` rows, at most ``k``
    per group — without the global-ordering funnel of a plain
    ``row_number() over (partition by group order by h)``: a single
    window per group pushes every hash of the hottest group through
    ONE task.

    Two-stage instead: hashes first rank inside ``(group, salt-cell)``
    — each stage-1 window sees only ~1/salt of its group — and only
    the ≤ salt*k survivors per group rank again for the true bottom-k.
    Deterministic (the salt is xxhash64 of the hash value itself), and
    the largest window anywhere is max(group/salt, salt*k) rows. Size
    ``salt`` ~ sqrt(|biggest group| / k) to balance the stages.

    Output states feed :func:`kmv_estimate_expr` (via max(h)/count per
    group) and merge across corpus slices by union + re-bottom-k —
    same contract as the ungrouped :func:`kmv_bottom_k`.
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    cell = F.pmod(F.xxhash64(F.col("h")), F.lit(salt))
    w1 = Window.partitionBy(group_col, "__cell").orderBy("h")
    stage1 = (
        hashes.select(F.col(group_col), F.col("h"), cell.alias("__cell"))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__cell")
    )
    w2 = Window.partitionBy(group_col).orderBy("h")
    return (
        stage1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_grouped_estimates(
    states: DataFrame,
    exact: DataFrame,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Fold per-group KMV states into ``(group_col, hll-style
    estimate)``: ``exact`` carries ``(group_col, nd)`` exact-or-known
    distinct counts per group (needed for the exact-below-k branch —
    the state itself IS the whole set there, so ``nd`` can also be
    computed as the state's row count when no exact side exists).
    Output: ``(group_col, kmv_estimate)`` rounded to 2."""
    summary = states.groupBy(group_col).agg(F.max("h").alias("__hk"))
    return (
        summary.join(exact, group_col)
        .select(
            F.col(group_col),
            kmv_estimate_expr("nd", "__hk", k).alias("kmv_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Uniform-sample quantile sketch (bottom-k rows by row-key hash)
# ---------------------------------------------------------------------------
#
# KMV answers "how many distinct"; this answers "what does the value
# DISTRIBUTION look like" from the same bottom-k idea: hashing a UNIQUE
# row key uniformly permutes the rows, so the k rows with the smallest
# hashes are a uniform-without-replacement sample of the group — and,
# unlike reservoir sampling, the state is ORDER-INDEPENDENT (the sample
# is a pure function of the row set), so states merge across corpus
# slices / micro-batches by union + re-bottom-k and a streaming
# maintenance lands bit-for-bit on the batch sketch. Quantiles read off
# the sorted sample (discrete lower quantile: no interpolation, so the
# emitted value is a bit-copy of an input value — oracle-portable).


def sample_bottom_k_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int = 128,
    salt: int = 16,
) -> DataFrame:
    """Per-group uniform row-sample sketch state: the ``k`` rows of each
    group with the smallest ``hash60(key_col)``, as ``(group_col, h,
    __key, __val)`` rows (≤ k per group). ``key_col`` must be unique per
    row (a row id) — it both drives the uniform permutation and breaks
    hash ties deterministically. NULL keys are dropped (a row without
    an identity cannot be permuted deterministically).

    Same two-stage salted ranking as :func:`kmv_bottom_k_grouped`: no
    window ever sees more than max(group/salt, salt*k) rows, so a hot
    group cannot funnel through one task at 100 TB. States merge with
    :func:`merge_sample_states`."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    rows = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col),
        hash60(F.col(key_col)).alias("h"),
        F.col(key_col).alias("__key"),
        F.col(value_col).alias("__val"),
    )
    cell = F.pmod(F.xxhash64(F.col("h")), F.lit(salt))
    w1 = Window.partitionBy(group_col, "__cell").orderBy("h", "__key")
    stage1 = (
        rows.withColumn("__cell", cell)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__cell")
    )
    w2 = Window.partitionBy(group_col).orderBy("h", "__key")
    return (
        stage1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def merge_sample_states(
    states: list[DataFrame], group_col: str, k: int, salt: int = 16
) -> DataFrame:
    """Merge sample-sketch states from disjoint corpus slices: union +
    re-bottom-k. Because each state already holds its slice's k
    smallest hashes, the merged bottom-k equals the bottom-k of the
    full union of slices — the property that makes the sketch safe to
    maintain incrementally (pinned by pytest)."""
    from functools import reduce

    from pyspark.sql import Window

    if not states:
        raise ValueError("need at least one state to merge")
    u = reduce(lambda a, b: a.unionByName(b), states)
    cell = F.pmod(F.xxhash64(F.col("h")), F.lit(salt))
    w1 = Window.partitionBy(group_col, "__cell").orderBy("h", "__key")
    stage1 = (
        u.withColumn("__cell", cell)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__cell")
    )
    w2 = Window.partitionBy(group_col).orderBy("h", "__key")
    return (
        stage1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def discrete_quantiles(
    rows: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    qs: dict[str, float],
    n_alias: str = "n",
) -> DataFrame:
    """Per-group DISCRETE (lower) quantiles: the element at 0-based
    index ``floor((n-1) * q)`` of the group's rows ordered by
    ``(value, key)``. No interpolation — the output is a bit-copy of an
    input value, so Spark and a SQL oracle agree exactly even on
    arbitrary doubles. ``qs`` maps output column name → q in [0, 1].
    Values must be non-NULL (NULL sort placement differs between
    engines: Spark orders NULLs first ASC, most SQL engines last —
    filter them out before calling; a NULL has no quantile anyway).

    The per-group window sort is the verification shape; the sketch
    path applies this to ≤ k sampled rows per group where the window is
    trivially bounded. (Over a FULL 100 TB group, use the sketch — or
    approx_percentile when a t-digest bound is acceptable.)"""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col, key_col)
    wc = Window.partitionBy(group_col)
    r = rows.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wc)
    )
    target = {
        name: (F.floor((F.col("__n") - 1).cast("double") * F.lit(q)) + 1)
        for name, q in qs.items()
    }
    aggs = [F.max("__n").alias(n_alias)] + [
        F.max(
            F.when(F.col("__rn") == target[name], F.col(value_col))
        ).alias(name)
        for name in qs
    ]
    return r.groupBy(group_col).agg(*aggs)


def sample_quantile_oracle_sql(
    table: str,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int,
    qs: dict[str, float],
    where: str = "",
) -> str:
    """DuckDB mirror of sample_bottom_k_grouped + discrete_quantiles:
    the same 60-bit md5 hash, the same (h, key) bottom-k, the same
    floor((n-1)*q) index over (value, key) order."""
    w = f"WHERE {where}" if where else ""
    qcols = ",\n           ".join(
        f"max(CASE WHEN rn = CAST(floor((n - 1) * {q!r}) AS BIGINT) + 1 "
        f"THEN v_ END) AS {name}"
        for name, q in qs.items()
    )
    return f"""
    WITH h AS (
      SELECT {group_col} AS g_, {key_col} AS k_, {value_col} AS v_,
             ('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM {table} {w}
    ), s AS (
      SELECT g_, k_, v_ FROM (
        SELECT g_, k_, v_,
               row_number() OVER (PARTITION BY g_ ORDER BY h, k_) AS hr
        FROM h)
      WHERE hr <= {k}
    ), sq AS (
      SELECT g_, v_,
             row_number() OVER (PARTITION BY g_ ORDER BY v_, k_) AS rn,
             count(*) OVER (PARTITION BY g_) AS n
      FROM s
    )
    SELECT g_ AS {group_col},
           max(n) AS sample_n,
           {qcols}
    FROM sq GROUP BY g_
    """


def cms_inner_product(
    counters_a: DataFrame,
    counters_b: DataFrame,
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """JOIN-SIZE estimation from two Count-Min sketches (the AMS /
    Cormode-Muthukrishnan inner-product estimator): for counter tables
    over each side's join key, sum(A[r,b] * B[r,b]) per hash row r is
    an overestimate of the true join cardinality
    sum_k fA(k) * fB(k), and the MIN over rows is the estimate — the
    same >= truth guarantee as point estimates. This is what lets a
    planner size a join (pick broadcast vs shuffle, pre-provision
    skew handling) from two O(d*w) states WITHOUT touching either
    table — day-over-day states merge by addition, so the question
    also answers across stored sketches.

    Both frames must share geometry: widths are read from the
    cms_build stamps (explicit ``width`` required for unstamped
    frames; a stamp/argument disagreement raises — probing misaligned
    moduli silently breaks the guarantee). Integer-only arithmetic, so
    a SQL oracle lands bit-for-bit.

    Output: one row ``(inner_product_est BIGINT)``.

    100 TB shape: the counter tables are <= depth*width rows each;
    the product join is sketch-sized, nothing scans data."""

    def stamp(df, arg, field):
        try:
            md = df.schema["bucket"].metadata or {}
            s = int(md[field]) if field in md else None
        except (KeyError, TypeError, ValueError):
            s = None
        if s is not None and arg is not None and s != arg:
            raise ValueError(
                f"cms_inner_product: explicit {field}={arg} disagrees with "
                f"the frame's stamped {field}={s}"
            )
        return s if s is not None else arg

    for df, tag in ((counters_a, "counters_a"), (counters_b, "counters_b")):
        missing = [c for c in ("row_id", "bucket", "cnt") if c not in df.columns]
        if missing:
            raise ValueError(
                f"cms_inner_product: {tag} lacks column(s) {missing}"
            )
    wa = stamp(counters_a, width, "cms_width")
    wb = stamp(counters_b, width, "cms_width")
    if wa is None or wb is None:
        raise ValueError(
            "cms_inner_product: no width stamp and no explicit width — "
            "pass width= for counter frames not built by cms_build"
        )
    if wa != wb:
        raise ValueError(
            f"cms_inner_product: geometry mismatch — widths {wa} vs {wb}"
        )
    da = stamp(counters_a, depth, "cms_depth")
    db = stamp(counters_b, depth, "cms_depth")
    if da is not None and db is not None and da != db:
        raise ValueError(
            f"cms_inner_product: geometry mismatch — depths {da} vs {db}"
        )
    a = counters_a.select("row_id", "bucket", F.col("cnt").alias("__ca"))
    b = counters_b.select("row_id", "bucket", F.col("cnt").alias("__cb"))
    # decimal(19,0) x decimal(19,0) -> exact decimal(38,0): a long
    # product would WRAP silently under Spark's non-ANSI arithmetic
    # once per-bucket counts pass ~3e9 (100 TB-of-events territory);
    # DuckDB widens the same product to HUGEINT, so exactness here is
    # also what keeps the oracle honest
    prod = F.col("__ca").cast("decimal(19,0)") * F.col("__cb").cast(
        "decimal(19,0)"
    )
    per_row = (
        a.join(b, ["row_id", "bucket"])
        .groupBy("row_id")
        .agg(F.sum(prod).alias("__ip"))
    )
    return per_row.agg(
        F.min("__ip").cast("long").alias("inner_product_est")
    )


# -- DDSketch: relative-error mergeable quantile digest ------------------


def _dd_params(alpha: float) -> tuple[float, float]:
    """(gamma, ln_gamma) for a DDSketch with relative accuracy alpha.
    ln(gamma) is computed ONCE in Python and inlined as the identical
    double literal into both engines — the only transcendental the
    bucket index needs is ln(value), whose last-ulp engine differences
    the round-9 below absorbs."""
    import math

    gamma = (1.0 + alpha) / (1.0 - alpha)
    return gamma, math.log(gamma)


def ddsketch_state(
    df: DataFrame, value_col: str, alpha: float = 0.01
) -> DataFrame:
    """DDSketch bucket table for one positive-valued column (Masson,
    Rim & Lee, VLDB 2019): bucket ``i = ceil(log_gamma(v))`` with
    ``gamma = (1+alpha)/(1-alpha)``, so every value in bucket i is
    within relative error alpha of ``2*gamma^i/(gamma+1)``. Returns
    ``(bucket, cnt)`` — the full sketch state.

    Sketch properties the 100 TB path leans on:
    - the state is a pure function of the value MULTISET: states merge
      by union + count-add (map-side combine does almost all the work,
      exactly like the HLL/CMS registers above);
    - the state size is O(log(max/min)/alpha) — INDEPENDENT of row
      count (l_extendedprice at alpha=0.01 is ~240 buckets), so the
      extraction pass is driver-trivial no matter the input scale;
    - unlike the KMV sample sketch the error bound is a GUARANTEE
      (relative, per-quantile), not a sampling confidence.

    Determinism: bucket index is ``ceil(round(ln(v)/ln_gamma, 9))`` —
    round-9 collapses cross-engine libm last-ulp differences (~1e-16
    relative) while leaving real boundaries (spacing ~alpha) intact.
    Zero/negative/NULL values are filtered (DDSketch's positive-store
    contract; route negatives through a mirrored store if needed)."""
    _, lg = _dd_params(alpha)
    return (
        df.select(F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull() & (F.col("__v") > 0))
        .select(
            F.ceil(F.round(F.log("__v") / F.lit(lg), 9))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def ddsketch_merge(*states: DataFrame) -> DataFrame:
    """Merge DDSketch states: union + count-add. Exact (integer
    counts), associative, commutative — the property that lets
    per-partition / per-day sketches roll up without re-reading data."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cnt"))


def ddsketch_quantiles(
    state: DataFrame,
    qs: list[float],
    alpha: float = 0.01,
    ndigits: int = 4,
) -> DataFrame:
    """Quantile extraction from a DDSketch state: the smallest bucket
    whose cumulative count reaches ``q * n``, decoded to the bucket's
    representative value ``2*gamma^i/(gamma+1)`` (within alpha of the
    true quantile, guaranteed). Output: one row per q —
    ``(q, n_rows, n_buckets, est_value)``.

    The cumulative window runs over the BUCKET table (O(log range /
    alpha) rows — constant in data size), so the one-task window is
    bounded by the sketch resolution, never the corpus."""
    from pyspark.sql import Window

    gamma, lg = _dd_params(alpha)
    # the state feeds BOTH the cumulative and the totals legs; without
    # materialization each leg replays the caller's full corpus scan
    # (observed: 4 FileScans for a two-half merge). The state is
    # O(log range / alpha) rows — the checkpoint is ~free.
    state = materialize(state)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = state.withColumn("__cum", F.sum("cnt").over(w))
    tot = state.agg(
        F.sum("cnt").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__nb"),
    )
    j = c.crossJoin(F.broadcast(tot))
    picks = [
        F.min(
            F.when(
                F.col("__cum").cast("double")
                >= F.lit(q) * F.col("__n").cast("double"),
                F.col("bucket"),
            )
        ).alias(f"__b{i}")
        for i, q in enumerate(qs)
    ]
    # n_rows/n_buckets come from the TOTALS leg, not max() over the
    # (possibly empty) cumulative frame: on an empty state max() is
    # NULL while the oracle's count(*) totals leg says n_buckets=0 —
    # the engines must agree on the degenerate input too (non-empty
    # states: max of a constant column == the totals value, identical)
    row = (
        j.agg(*picks)
        .crossJoin(F.broadcast(tot))
        .withColumnRenamed("__n", "n_rows")
        .withColumnRenamed("__nb", "n_buckets")
    )
    arms = [
        F.struct(
            F.lit(q).alias("q"),
            F.col("n_rows"),
            F.col("n_buckets"),
            F.round(
                F.lit(2.0)
                * F.exp(F.col(f"__b{i}").cast("double") * F.lit(lg))
                / F.lit(gamma + 1.0),
                ndigits,
            ).alias("est_value"),
        )
        for i, q in enumerate(qs)
    ]
    return row.select(F.explode(F.array(*arms)).alias("r")).select("r.*")


def ddsketch_oracle_sql(
    table_sql: str,
    value_col: str,
    qs: list[float],
    alpha: float = 0.01,
    ndigits: int = 4,
) -> str:
    """DuckDB mirror of ddsketch_state + ddsketch_quantiles: identical
    inlined ln_gamma double literal, identical round-9 bucket index,
    identical threshold and decode expressions."""
    gamma, lg = _dd_params(alpha)
    arms = []
    for q in qs:
        arms.append(
            f"SELECT CAST({q!r} AS DOUBLE) AS q, n_rows, n_buckets,"
            f" round(2.0 * exp(CAST((SELECT min(bucket) FROM c WHERE"
            f" CAST(cum AS DOUBLE) >= {q!r} * CAST(t.n_rows AS DOUBLE))"
            f" AS DOUBLE) * {lg!r}) / {gamma + 1.0!r}, {ndigits})"
            f" AS est_value FROM t"
        )
    return f"""
    WITH b AS (
      SELECT CAST(ceil(round(ln({value_col}) / {lg!r}, 9)) AS BIGINT)
               AS bucket,
             count(*) AS cnt
      FROM ({table_sql})
      WHERE {value_col} IS NOT NULL AND {value_col} > 0
      GROUP BY 1
    ), c AS MATERIALIZED (
      SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
      FROM b
    ), t AS MATERIALIZED (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_buckets
      FROM b
    )
    {" UNION ALL ".join(arms)}
    """
