"""Data-quality audits: referential-integrity orphan counts and a
Benford first-digit conformance test — the checks a warehouse runs
against a freshly landed fact table before anything downstream trusts
it.

Reference analogue: none — the reference leaves analytics to its
embedded DuckDB (`/root/reference/pydala/table.py:940-958`); these sit
beside :func:`pydala2_spark.functions.schema_tools.profile_dataframe`
as the table-health surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize

_DEC = "decimal(38,6)"


def fk_orphan_report(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: for each ``(name, fact, fk, dim,
    pk)`` relation, count fact rows whose (non-null) foreign key has no
    match in the dimension. Output one row per relation:
    ``(relation, n_rows, n_orphans, orphan_pct)``.

    NULL foreign keys are not orphans (they are the profile's
    ``n_null`` problem, not a dangling reference).

    100 TB shape: each relation is ONE pass over the fact — a LEFT
    join against the broadcast deduped dimension key set (1:<=1, no
    fanout), with the total row count and the orphan count (non-null
    key, no match) folding in the same map-side aggregate; the fact
    side never shuffles and is never scanned twice. Relations union
    as single-row frames — no driver collect.
    """
    if not relations:
        raise ValueError("relations must be non-empty")
    outs = []
    for name, fact, fk, dim, pk in relations:
        keys = dim.select(F.col(pk).alias("__pk")).distinct()
        j = fact.select(F.col(fk).alias("__fk")).join(
            F.broadcast(keys), F.col("__fk") == F.col("__pk"), "left"
        )
        outs.append(
            j.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(
                    F.when(
                        F.col("__fk").isNotNull() & F.col("__pk").isNull(),
                        F.lit(1),
                    )
                ).alias("n_orphans"),
            ).select(
                F.lit(name).alias("relation"),
                "n_rows",
                "n_orphans",
                F.round(
                    F.col("n_orphans") * 100.0 / F.col("n_rows"), 4
                ).alias("orphan_pct"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def benford_report(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over a positive
    numeric column: observed count per digit 1-9 next to the Benford
    expectation ``n * log10(1 + 1/d)``, plus the chi-square statistic
    (repeated per row — one test, nine cells). Fabricated or
    unit-capped figures jump off this report; naturally spanning
    magnitudes (prices, populations, trade volumes) hug it.

    The digit extracts from the rounded string form (JVM regexp — no
    float log10 near a power-of-ten boundary); expectations use
    driver-computed log10 literals; the chi-square folds per-digit
    terms through a DECIMAL sum so cell order cannot move a bit.

    100 TB shape: one scan-stage digit projection + one 9-group
    map-side-combining count; everything after runs on 9 rows.
    """
    digit = F.regexp_extract(
        F.round(F.abs(F.col(value_col)), 2).cast("string"), "([1-9])", 1
    )
    counts = (
        df.filter(F.col(value_col).isNotNull() & (F.abs(F.col(value_col)) > 0))
        .select(digit.cast("int").alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").alias("__n"))
    p = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    p_expr = F.element_at(
        F.array(*[F.lit(p[d]) for d in range(1, 10)]), F.col("digit")
    )
    w = counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_obs",
        F.round(F.col("__n") * p_expr, 2).alias("expected_n"),
        F.round(
            (F.col("n_obs") - F.col("__n") * p_expr)
            * (F.col("n_obs") - F.col("__n") * p_expr)
            / (F.col("__n") * p_expr),
            6,
        ).alias("__term"),
    )
    chi2 = w.agg(
        F.round(F.sum(F.col("__term").cast(_DEC)), 4).cast("double").alias("chi2")
    )
    return (
        w.crossJoin(F.broadcast(chi2))
        .select("digit", "n_obs", "expected_n", "chi2")
    )


# -- declarative rulesets ----------------------------------------------

_RULE_KINDS = ("not_null", "unique", "range", "in_set", "regex", "expr")


def _rule_name(r: dict) -> str:
    if "name" in r:
        return str(r["name"])
    kind = r["rule"]
    if kind == "unique":
        return f"unique({', '.join(r['cols'])})"
    if kind == "expr":
        return f"expr({r['predicate']})"
    return f"{kind}({r['col']})"


def validate_rules(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Great-Expectations-style declarative data-quality run: evaluate
    a RULESET against the frame in ONE aggregation pass and return one
    row per rule — ``(rule, n_rows, n_violations, violation_pct)``.

    Rule shapes (dicts; optional ``"name"`` overrides the label):

    - ``{"rule": "not_null", "col": c}`` — NULL values violate.
    - ``{"rule": "unique", "cols": [c, ...]}`` — violations = rows with
      fully-non-null keys in excess of one per distinct key (rows with
      a NULL key component are not_null's problem, not duplicates).
    - ``{"rule": "range", "col": c, "min": lo, "max": hi}`` (either
      bound optional) — non-NULL values outside [lo, hi] violate.
    - ``{"rule": "in_set", "col": c, "values": [...]}`` — non-NULL
      values outside the set violate.
    - ``{"rule": "regex", "col": c, "pattern": p}`` — non-NULL values
      NOT matching (RE2-style, unanchored) violate.
    - ``{"rule": "expr", "predicate": sql}`` — rows where the SQL
      predicate is NOT TRUE violate (write dialect-portable SQL if the
      ruleset must mirror into an oracle).

    NULL convention: every per-value rule passes NULLs through —
    ``not_null`` is the one place nullness is judged, so a single bad
    row doesn't double-count across the ruleset.

    Reference analogue: none (the reference has no validation
    surface); sits beside fk_orphan_report/benford_report.

    100 TB shape: every row-level rule compiles to a conditional sum
    in ONE map-side-combined aggregate over a single scan — adding a
    rule adds a column, not a pass. ``unique`` rules add their
    count(DISTINCT struct) to the same aggregate (Catalyst plans the
    distinct expansion; still one scan of the input). The one-row
    aggregate then unpivots to |rules| rows driver-free.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, r in enumerate(rules):
        kind = r.get("rule")
        if kind not in _RULE_KINDS:
            raise ValueError(f"unknown rule kind: {kind!r}")
        if kind == "not_null":
            bad = F.col(r["col"]).isNull()
        elif kind == "unique":
            cols = r["cols"]
            nn = F.struct(*[F.col(c) for c in cols])
            all_nn = None
            for c in cols:
                p = F.col(c).isNotNull()
                all_nn = p if all_nn is None else (all_nn & p)
            aggs.append(
                (
                    F.sum(F.when(all_nn, 1).otherwise(0))
                    - F.count_distinct(
                        F.when(all_nn, nn)
                    )
                ).alias(f"__v{i}")
            )
            continue
        elif kind == "range":
            c = F.col(r["col"])
            conds = []
            if "min" in r:
                conds.append(c < F.lit(r["min"]))
            if "max" in r:
                conds.append(c > F.lit(r["max"]))
            if not conds:
                raise ValueError("range rule needs min and/or max")
            out = conds[0]
            for x in conds[1:]:
                out = out | x
            bad = c.isNotNull() & out
        elif kind == "in_set":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.isin(list(r["values"]))
        elif kind == "regex":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.rlike(r["pattern"])
        else:  # expr
            bad = ~F.coalesce(F.expr(r["predicate"]), F.lit(False))
        aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"__v{i}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(_rule_name(r)).alias("rule"),
                F.col(f"__v{i}").cast("long").alias("v"),
            )
            for i, r in enumerate(rules)
        ]
    )
    return (
        one.select(F.col("__n"), F.explode(entries).alias("e"))
        .select(
            F.col("e.rule").alias("rule"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col("e.v").alias("n_violations"),
            F.round(F.col("e.v") * 100.0 / F.col("__n"), 4).alias(
                "violation_pct"
            ),
        )
    )


def rules_oracle_sql(table_sql: str, rules: list[dict]) -> str:
    """DuckDB SQL reproducing :func:`validate_rules` exactly (one
    conditional-sum aggregate + unpivot via UNION ALL). Regex rules
    map to ``regexp_matches`` (unanchored, like Spark ``rlike``);
    ``expr`` predicates are passed through verbatim, so use
    dialect-portable SQL there."""
    if not rules:
        raise ValueError("rules must be non-empty")

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    vs = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "not_null":
            e = f"sum(CASE WHEN {r['col']} IS NULL THEN 1 ELSE 0 END)"
        elif kind == "unique":
            cols = r["cols"]
            nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
            row = ", ".join(cols)
            e = (
                f"(sum(CASE WHEN {nn} THEN 1 ELSE 0 END) - "
                f"count(DISTINCT CASE WHEN {nn} THEN ROW({row}) END))"
            )
        elif kind == "range":
            c = r["col"]
            conds = []
            if "min" in r:
                conds.append(f"{c} < {lit(r['min'])}")
            if "max" in r:
                conds.append(f"{c} > {lit(r['max'])}")
            e = (
                f"sum(CASE WHEN {c} IS NOT NULL AND "
                f"({' OR '.join(conds)}) THEN 1 ELSE 0 END)"
            )
        elif kind == "in_set":
            c = r["col"]
            vals = ", ".join(lit(v) for v in r["values"])
            e = (
                f"sum(CASE WHEN {c} IS NOT NULL AND {c} NOT IN ({vals}) "
                f"THEN 1 ELSE 0 END)"
            )
        elif kind == "regex":
            c = r["col"]
            e = (
                f"sum(CASE WHEN {c} IS NOT NULL AND NOT "
                f"regexp_matches({c}, {lit(r['pattern'])}) "
                f"THEN 1 ELSE 0 END)"
            )
        else:
            e = (
                f"sum(CASE WHEN ({r['predicate']}) IS NOT TRUE "
                f"THEN 1 ELSE 0 END)"
            )
        vs.append(f"{e} AS v{i}")
    names = "\n    UNION ALL ".join(
        f"SELECT {lit(_rule_name(r))} AS rule, n_rows, "
        f"CAST(v{i} AS BIGINT) AS n_violations, "
        f"round(v{i} * 100.0 / n_rows, 4) AS violation_pct FROM a"
        for i, r in enumerate(rules)
    )
    return (
        f"WITH a AS (SELECT count(*) AS n_rows, {', '.join(vs)} "
        f"FROM ({table_sql}))\n    {names}"
    )


def k_anonymity_report(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l: int = 2,
) -> DataFrame:
    """Re-identification risk audit before a dataset is shared:
    k-anonymity over the quasi-identifier columns (Sweeney 2002), plus
    l-diversity over a sensitive column (Machanavajjhala et al. 2007)
    when given. An equivalence CLASS is one distinct combination of
    ``qi_cols``; a row in a class smaller than ``k`` is re-identifiable
    by linking those attributes, and a class whose sensitive values
    collapse below ``l`` distinct leaks the attribute even at size k.

    One summary row: ``(n_rows, n_classes, min_class_size,
    n_classes_below_k, n_rows_below_k, below_k_pct[, n_classes_below_l,
    n_rows_below_l])``. NULL quasi-identifier values form their own
    classes (grouping semantics — identical in both engines).

    Reference analogue: none (no privacy surface); sits with the DQ
    audits as the release gate.

    100 TB shape: ONE groupBy over the quasi-identifier tuple
    (map-side combined; the class table is |distinct QI| rows, tiny
    next to the input) followed by a one-row reduction. Adding
    l-diversity rides the same aggregate as a countDistinct.
    """
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    aggs = [F.count(F.lit(1)).alias("__sz")]
    if sensitive_col is not None:
        if l < 2:
            raise ValueError(f"l must be >= 2, got {l}")
        aggs.append(F.countDistinct(F.col(sensitive_col)).alias("__nd"))
    classes = df.groupBy(*[F.col(c) for c in qi_cols]).agg(*aggs)
    outs = [
        F.sum("__sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__sz").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("__sz") < k, 1).otherwise(0))
        .cast("long")
        .alias("n_classes_below_k"),
        F.sum(F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0))
        .cast("long")
        .alias("n_rows_below_k"),
    ]
    if sensitive_col is not None:
        outs += [
            F.sum(F.when(F.col("__nd") < l, 1).otherwise(0))
            .cast("long")
            .alias("n_classes_below_l"),
            F.sum(F.when(F.col("__nd") < l, F.col("__sz")).otherwise(0))
            .cast("long")
            .alias("n_rows_below_l"),
        ]
    out = classes.agg(*outs).withColumn(
        "below_k_pct",
        F.round(F.col("n_rows_below_k") * 100.0 / F.col("n_rows"), 4),
    )
    cols = [
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_classes_below_k",
        "n_rows_below_k",
        "below_k_pct",
    ]
    if sensitive_col is not None:
        cols += ["n_classes_below_l", "n_rows_below_l"]
    return out.select(*cols)


_DEC8 = "decimal(38,8)"


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    ndigits: int = 6,
    min_tasks: int | None = None,
) -> DataFrame:
    """Pairwise Pearson correlation matrix over ``cols``, unpivoted to
    one row per unordered pair: ``(col_x, col_y, corr)`` — the
    multicollinearity / feature-redundancy screen a modeling pipeline
    runs before training.

    ONE aggregation pass computes every sufficient statistic
    (n, Σx, Σx² per column, Σxy per pair — C(k,2)+2k+1 aggregate
    columns); adding a column adds aggregates, not scans. Each per-row
    product is a deterministic IEEE double, cast to DECIMAL(38,8)
    before summing so partition order cannot move a bit (the
    ev_value_trend discipline); correlations derive in double with a
    fixed expression shape a SQL oracle reproduces exactly.

    100 TB shape: one map-side-combined scan to a single row, then the
    unpivot explodes a literal array — no shuffle beyond the one-row
    reduce.

    ``min_tasks``: the decimal accumulation is CPU-heavy (BigDecimal
    adds per row per statistic) and partial aggregation parallelism is
    capped by the SCAN's split count — a few huge parquet row groups
    serialize the whole pass onto that many cores. Passing min_tasks
    round-robin-repartitions the column-pruned k-double frame first so
    the partial aggregates fan out; exact decimal sums make the result
    independent of the added exchange. Leave None when the input
    already has healthy split parallelism (any real 100 TB corpus) —
    there the extra shuffle is pure waste.
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols!r}")
    if min_tasks:
        df = df.select(*cols).repartition(min_tasks)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(_DEC8)).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(_DEC8)).alias(f"q_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum((F.col(a) * F.col(b)).cast(_DEC8)).alias(f"p_{a}_{b}"))
    s = df.agg(*aggs)

    def _corr(a: str, b: str):
        n = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        qa = F.col(f"q_{a}").cast("double")
        qb = F.col(f"q_{b}").cast("double")
        p = F.col(f"p_{a}_{b}").cast("double")
        den = F.sqrt(n * qa - sa * sa) * F.sqrt(n * qb - sb * sb)
        # zero-variance column -> NULL (ANSI mode would throw on /0)
        return F.round(F.when(den > 0, (n * p - sa * sb) / den), ndigits)

    rows = [
        F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            _corr(a, b).alias("corr"),
        )
        for a, b in pairs
    ]
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def corr_matrix_oracle_sql(
    table_sql: str, cols: list[str], ndigits: int = 6
) -> str:
    """DuckDB oracle for :func:`corr_matrix`: identical sufficient
    statistics (DECIMAL(38,8) sums of per-row double products) and the
    identical double-precision derivation, one UNION ALL arm per
    pair."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = ["count(*) AS n"]
    for c in cols:
        aggs.append(f"sum(CAST({c} AS DECIMAL(38,8))) AS s_{c}")
        aggs.append(f"sum(CAST({c} * {c} AS DECIMAL(38,8))) AS q_{c}")
    for a, b in pairs:
        aggs.append(f"sum(CAST({a} * {b} AS DECIMAL(38,8))) AS p_{a}_{b}")
    arms = []
    for a, b in pairs:
        den = (
            f"(sqrt(CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        expr = (
            f"round(CASE WHEN {den} > 0 THEN"
            f" (CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / {den} END, {ndigits})"
        )
        arms.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, {expr} AS corr FROM s"
        )
    return (
        f"WITH s AS (SELECT {', '.join(aggs)} FROM ({table_sql}))\n"
        + "\nUNION ALL\n".join(arms)
    )


def categorical_mutual_info(
    df: DataFrame, x: str, y: str, ndigits: int = 4
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, with
    both marginal entropies and the min-entropy-normalized MI — the
    feature-dependence / redundancy audit (is ``source`` just a proxy
    for ``lang``?) and the leakage screen (is a feature secretly the
    label?).

    One row out: ``(n_rows, h_x, h_y, mi, mi_norm)``.

    Determinism: joint and marginal counts are integer-exact, so every
    per-cell term is a deterministic double; terms round to 12
    decimals and accumulate as DECIMAL(38,12) (the pagerank
    discipline) so summation order cannot move a bit.

    100 TB shape: one map-side-combined groupBy to the |X|x|Y| joint
    frame; marginals are re-aggregations OF that frame (the corpus is
    scanned once); totals join back as one-row broadcasts — no global
    window, no funnel.
    """
    joint = materialize(
        df.groupBy(F.col(x).alias("__x"), F.col(y).alias("__y")).agg(
            F.count(F.lit(1)).alias("c")
        ),
        "categorical_mutual_info: joint counts",
    )
    tot = joint.agg(F.sum("c").cast("long").alias("n"))
    mx = joint.groupBy("__x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("__y").agg(F.sum("c").alias("cy"))
    dec = "decimal(38,12)"

    def _h(marg: DataFrame, ccol: str):
        t = marg.crossJoin(F.broadcast(tot))
        term = F.round(
            -(F.col(ccol).cast("double") / F.col("n").cast("double"))
            * F.log(F.col(ccol).cast("double") / F.col("n").cast("double")),
            12,
        ).cast(dec)
        return t.agg(F.sum(term).cast("double").alias("h"))

    mi_term = F.round(
        (F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("c").cast("double") * F.col("n").cast("double"))
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        ),
        12,
    ).cast(dec)
    mi = (
        joint.join(mx, "__x")
        .join(my, "__y")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term).cast("double").alias("mi"))
    )
    hx = _h(mx, "cx")
    hy = _h(my, "cy")
    return (
        tot.crossJoin(F.broadcast(hx.select(F.col("h").alias("__hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("__hy"))))
        .crossJoin(F.broadcast(mi))
        .select(
            F.col("n").alias("n_rows"),
            F.round("__hx", ndigits).alias("h_x"),
            F.round("__hy", ndigits).alias("h_y"),
            F.round("mi", ndigits).alias("mi"),
            F.round(
                F.col("mi") / F.least("__hx", "__hy"), ndigits
            ).alias("mi_norm"),
        )
    )


def mutual_info_oracle_sql(
    table_sql: str, x: str, y: str, ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`categorical_mutual_info` — identical
    rounded-term DECIMAL(38,12) accumulation."""
    return f"""
    WITH joint AS (
      SELECT {x} AS xv, {y} AS yv, count(*) AS c
      FROM ({table_sql}) GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM joint),
    mx AS (SELECT xv, sum(c) AS cx FROM joint GROUP BY 1),
    my AS (SELECT yv, sum(c) AS cy FROM joint GROUP BY 1),
    hx AS (
      SELECT CAST(sum(CAST(round(
        -(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
          * ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        AS DECIMAL(38,12))) AS DOUBLE) AS h FROM mx, tot
    ), hy AS (
      SELECT CAST(sum(CAST(round(
        -(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
          * ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        AS DECIMAL(38,12))) AS DOUBLE) AS h FROM my, tot
    ), mi AS (
      SELECT CAST(sum(CAST(round(
        (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
          * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
               / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 12)
        AS DECIMAL(38,12))) AS DOUBLE) AS mi
      FROM joint JOIN mx USING (xv) JOIN my USING (yv), tot
    )
    SELECT tot.n AS n_rows,
           round(hx.h, {ndigits}) AS h_x,
           round(hy.h, {ndigits}) AS h_y,
           round(mi.mi, {ndigits}) AS mi,
           round(mi.mi / least(hx.h, hy.h), {ndigits}) AS mi_norm
    FROM tot, hx, hy, mi
    """


_KS_SHIFT = "1000000000000000"  # 10^15: packs (c1, c2) into one decimal


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    g1: str,
    g2: str,
    ndigits: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the ``value_col``
    distributions of groups ``g1`` and ``g2`` — the DISTRIBUTIONAL
    drift gate (profile_drift catches schema/envelope drift; KS
    catches a shape change inside an unchanged envelope, the classic
    silent regression after an upstream logic change). Reports the
    exact D statistic plus the Numerical-Recipes asymptotic
    significance (lambda and p).

    One row out: ``(n_1, n_2, d_stat, ks_lambda, p_value)``.

    Determinism: D is computed ENTIRELY in integers — per-value counts
    for both samples pack into one DECIMAL(38,0) (c1·10^15 + c2, exact
    since each cumulative count < 10^15 at any conceivable scale), one
    cumulative prefix recovers both ECDFs, and the max of
    |cum1·n2 - cum2·n1| is an integer max; the single division
    happens once at the end. The p-series terms round to 12 decimals
    and accumulate as DECIMAL(38,12) — exact addition is associative,
    so Spark's ordered fold and SQL's unordered sum agree bit-for-bit.

    100 TB shape: one map-side-combined groupBy collapses the corpus
    to distinct values; the cumulative runs through
    ``skew.distributed_prefix`` (range shuffle + broadcast offsets —
    NO global-window funnel); totals attach as a one-row broadcast.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    vals = df.filter(F.col(group_col).isin([g1, g2])).select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == g1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is1"),
    )
    per_v = vals.groupBy("v").agg(
        F.sum("is1").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("is1")).cast("long").alias("c2"),
    )
    shift = F.lit(_KS_SHIFT).cast("decimal(38,0)")
    packed = (
        F.col("c1").cast("decimal(38,0)") * shift
        + F.col("c2").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    pref = distributed_prefix(
        per_v.withColumn("__pk", packed),
        ["v"],
        sum_col="__pk",
        cum_col="__cum",
    )
    cum2 = (F.col("__cum") % shift).cast("decimal(38,0)")
    cum1 = ((F.col("__cum") - cum2) / shift).cast("decimal(38,0)")
    # totals = the LAST inclusive prefix, unpacked — aggregating per_v
    # again would re-run the corpus scan + groupBy; the max over the
    # prefix CHECKPOINT is the same exact packed integer (counts are
    # nonnegative, so the cumulative is monotone)
    tot = pref.agg(F.max("__cum").alias("__mx")).select(
        ((F.col("__mx") - F.col("__mx") % shift) / shift)
        .cast("long")
        .alias("n1"),
        (F.col("__mx") % shift).cast("long").alias("n2"),
    )
    mx = (
        pref.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                cum1 * F.col("n2").cast("decimal(38,0)")
                - cum2 * F.col("n1").cast("decimal(38,0)")
            ).alias("__diff")
        )
        .agg(F.max("__diff").alias("md"))
    )
    one = mx.crossJoin(F.broadcast(tot))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d = F.col("md").cast("double") / (n1d * n2d)
    en = n1d * n2d / (n1d + n2d)
    lam = (
        F.sqrt(en) + F.lit(0.12) + F.lit(0.11) / F.sqrt(en)
    ) * d
    term = lambda j: F.round(
        F.when(j % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp((F.lit(-2) * j * j).cast("double") * (lam * lam)),
        12,
    ).cast("decimal(38,12)")
    p = F.lit(2.0) * F.aggregate(
        F.sequence(F.lit(1), F.lit(50)),
        F.lit(0).cast("decimal(38,12)"),
        lambda acc, j: (acc + term(j)).cast("decimal(38,12)"),
    ).cast("double")
    return one.select(
        F.col("n1").alias("n_1"),
        F.col("n2").alias("n_2"),
        F.round(d, ndigits).alias("d_stat"),
        F.round(lam, 4).alias("ks_lambda"),
        F.round(F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)), ndigits)
        .alias("p_value"),
    )


def ks_oracle_sql(
    table_sql: str,
    value_col: str,
    group_col: str,
    g1: str,
    g2: str,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`ks_two_sample` — the same integer-exact
    ECDF maximum and the identical term-rounded p-series."""
    return f"""
    WITH f AS (
      SELECT {value_col} AS v,
             CASE WHEN {group_col} = '{g1}' THEN 1 ELSE 0 END AS is1
      FROM ({table_sql}) WHERE {group_col} IN ('{g1}', '{g2}')
    ), pv AS (
      SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
             CAST(sum(1 - is1) AS BIGINT) AS c2
      FROM f GROUP BY v
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM pv
    ), cum AS (
      SELECT sum(CAST(c1 AS DECIMAL(38,0))) OVER (ORDER BY v) AS cum1,
             sum(CAST(c2 AS DECIMAL(38,0))) OVER (ORDER BY v) AS cum2
      FROM pv
    ), mx AS (
      SELECT max(abs(cum1 * CAST(n2 AS DECIMAL(38,0))
                     - cum2 * CAST(n1 AS DECIMAL(38,0)))) AS md
      FROM cum, tot
    ), s AS (
      SELECT n1, n2,
             CAST(md AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
             (sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
              + 0.12
              + 0.11 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
             * (CAST(md AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS lam
      FROM mx, tot
    ), ps AS (
      SELECT s.*,
             2.0 * CAST((
               SELECT sum(CAST(round(
                 (CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END)
                 * exp(CAST(-2 * j * j AS DOUBLE) * (s.lam * s.lam)), 12)
               AS DECIMAL(38,12)))
               FROM unnest(generate_series(1, 50)) AS u(j)
             ) AS DOUBLE) AS p
      FROM s
    )
    SELECT n1 AS n_1, n2 AS n_2,
           round(d, {ndigits}) AS d_stat,
           round(lam, 4) AS ks_lambda,
           round(least(1.0, greatest(0.0, p)), {ndigits}) AS p_value
    FROM ps
    """


def chi2_independence(
    df: DataFrame, x: str, y: str, ndigits: int = 4
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramer's V effect size — the categorical-association
    audit that complements :func:`categorical_mutual_info` (chi2 is
    the classical significance-bearing statistic; MI is the
    information-theoretic one; a drift monitor wants both).

    One row out: ``(n_rows, card_x, card_y, dof, chi2, cramers_v)``.

    Uses the identity ``chi2 = N * (sum_ij n_ij^2 / (r_i * c_j) - 1)``
    so every input to the sum is an exact integer count; each per-cell
    term rounds to 12 decimals and accumulates as DECIMAL(38,12) (the
    pagerank discipline), making the sum order-independent and
    engine-portable. Cramer's V = sqrt(chi2 / (N * min(rx-1, cy-1))).

    100 TB shape: one map-side-combined groupBy to the |X|x|Y| joint
    frame; marginals re-aggregate THAT frame (corpus scanned once);
    totals join back as one-row broadcasts. No window, no funnel.
    """
    joint = materialize(
        df.groupBy(F.col(x).alias("__x"), F.col(y).alias("__y")).agg(
            F.count(F.lit(1)).alias("c")
        ),
        "chi2_independence: joint counts",
    )
    tot = joint.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("__x").cast("long").alias("kx"),
        F.countDistinct("__y").cast("long").alias("ky"),
    )
    mx = joint.groupBy("__x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("__y").agg(F.sum("c").alias("cy"))
    term = F.round(
        (F.col("c").cast("double") * F.col("c").cast("double"))
        / (F.col("cx").cast("double") * F.col("cy").cast("double")),
        12,
    ).cast("decimal(38,12)")
    s = (
        joint.join(mx, "__x")
        .join(my, "__y")
        .agg(F.sum(term).cast("double").alias("__s"))
    )
    n = F.col("n").cast("double")
    chi2 = n * (F.col("__s") - F.lit(1.0))
    dof = (F.col("kx") - 1) * (F.col("ky") - 1)
    vmin = F.least(F.col("kx") - 1, F.col("ky") - 1).cast("double")
    return tot.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_rows"),
        F.col("kx").alias("card_x"),
        F.col("ky").alias("card_y"),
        dof.cast("long").alias("dof"),
        F.round(chi2, ndigits).alias("chi2"),
        # round-12 term residue can leave chi2 a hair below zero on a
        # perfectly independent table — clamp before the sqrt
        F.round(
            F.sqrt(F.greatest(chi2, F.lit(0.0)) / (n * vmin)), 6
        ).alias("cramers_v"),
    )


def chi2_oracle_sql(table_sql: str, x: str, y: str, ndigits: int = 4) -> str:
    """DuckDB oracle for :func:`chi2_independence` — identical
    rounded-term DECIMAL(38,12) accumulation."""
    return f"""
    WITH joint AS (
      SELECT {x} AS xv, {y} AS yv, count(*) AS c
      FROM ({table_sql}) GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(DISTINCT xv) AS BIGINT) AS kx,
             CAST(count(DISTINCT yv) AS BIGINT) AS ky
      FROM joint
    ), mx AS (SELECT xv, sum(c) AS cx FROM joint GROUP BY 1),
    my AS (SELECT yv, sum(c) AS cy FROM joint GROUP BY 1),
    s AS (
      SELECT CAST(sum(CAST(round(
        (CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
          / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)), 12)
        AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM joint JOIN mx USING (xv) JOIN my USING (yv)
    )
    SELECT tot.n AS n_rows, tot.kx AS card_x, tot.ky AS card_y,
           CAST((tot.kx - 1) * (tot.ky - 1) AS BIGINT) AS dof,
           round(CAST(tot.n AS DOUBLE) * (s.s - 1.0), {ndigits}) AS chi2,
           round(sqrt(greatest(CAST(tot.n AS DOUBLE) * (s.s - 1.0), 0.0)
                      / (CAST(tot.n AS DOUBLE)
                         * CAST(least(tot.kx - 1, tot.ky - 1) AS DOUBLE))),
                 6) AS cramers_v
    FROM tot, s
    """


# -- Spearman rank correlation ------------------------------------------


def spearman_corr(
    df: DataFrame, x: str, y: str, ndigits: int = 6
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, exact
    with average ranks for ties — the monotone-association screen
    next to :func:`corr_matrix`'s linear one (a modeling pipeline
    wants BOTH: a strong Spearman with weak Pearson flags a nonlinear
    but learnable feature).

    Ranks are computed WITHOUT a global window: group to the
    distinct-value table, take a distributed prefix over it
    (:func:`pydala2_spark.functions.skew.distributed_prefix` — range
    shuffle + broadcast offsets), and join the |distinct| rank table
    back to the rows. The whole derivation stays in INTEGER
    arithmetic: we carry twice-the-average-rank ``r2 = 2*(rows
    before) + ties + 1`` (always integral) so every product and sum
    is an exact decimal — the Pearson-on-ranks formula is
    scale-invariant, so the factor of 2 cancels. No rounding happens
    anywhere until the final double division, which both engines
    evaluate with the identical expression shape.

    One row out: ``(n_pairs, spearman_rho)``.

    100 TB shape: two map-side-combined groupBys to the distinct
    tables, one range shuffle each over |distinct| rows, two
    corpus-side equi-joins on the value (hot tied values are join
    keys against a DISTINCT build side — no row explosion), one
    single-row aggregate. No global window funnel.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    base = df.select(F.col(x).alias("xv"), F.col(y).alias("yv")).filter(
        F.col("xv").isNotNull() & F.col("yv").isNotNull()
    )

    def rank2(col: str, out: str) -> DataFrame:
        g = base.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        g = g.withColumn("c_dec", F.col("c").cast("decimal(38,0)"))
        g = distributed_prefix(g, [col], sum_col="c_dec", cum_col="__cum")
        # rows strictly before this value = inclusive cum - own count
        return g.select(
            col,
            (
                F.lit(2) * (F.col("__cum") - F.col("c_dec"))
                + F.col("c_dec")
                + F.lit(1)
            )
            .cast("decimal(14,0)")
            .alias(out),
        )

    rx = rank2("xv", "rx2")
    ry = rank2("yv", "ry2")
    j = base.join(rx, "xv").join(ry, "yv")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("qx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("qy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("p"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    qx, qy = F.col("qx").cast("double"), F.col("qy").cast("double")
    p = F.col("p").cast("double")
    den = F.sqrt(n * qx - sx * sx) * F.sqrt(n * qy - sy * sy)
    return s.select(
        "n_pairs",
        F.round(F.when(den > 0, (n * p - sx * sy) / den), ndigits).alias(
            "spearman_rho"
        ),
    )


def spearman_oracle_sql(
    table_sql: str, x: str, y: str, ndigits: int = 6
) -> str:
    """DuckDB oracle for :func:`spearman_corr`: identical integral
    twice-average-ranks via a window prefix (fine at oracle SF), the
    identical exact decimal sums, the identical final expression."""
    return f"""
    WITH base AS (
      SELECT {x} AS xv, {y} AS yv FROM ({table_sql})
      WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ), gx AS (SELECT xv AS v, count(*) AS c FROM base GROUP BY xv),
    rx AS (
      SELECT v, CAST(2 * (sum(c) OVER (ORDER BY v) - c) + c + 1
                     AS DECIMAL(14,0)) AS rx2
      FROM gx
    ), gy AS (SELECT yv AS v, count(*) AS c FROM base GROUP BY yv),
    ry AS (
      SELECT v, CAST(2 * (sum(c) OVER (ORDER BY v) - c) + c + 1
                     AS DECIMAL(14,0)) AS ry2
      FROM gy
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(rx2 * rx2) AS qx, sum(ry2 * ry2) AS qy,
             sum(rx2 * ry2) AS p
      FROM base JOIN rx ON base.xv = rx.v JOIN ry ON base.yv = ry.v
    )
    SELECT n_pairs,
           round(CASE WHEN (sqrt(CAST(n_pairs AS DOUBLE) * CAST(qx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * sqrt(CAST(n_pairs AS DOUBLE) * CAST(qy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
                      THEN (CAST(n_pairs AS DOUBLE) * CAST(p AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(qx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * sqrt(CAST(n_pairs AS DOUBLE) * CAST(qy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 END, {ndigits}) AS spearman_rho
    FROM s
    """


# -- candidate-key discovery --------------------------------------------


def candidate_keys(
    df: DataFrame, cols: list[str], ndigits: int = 6
) -> DataFrame:
    """Uniqueness profile per column: exact distinct count, null
    count, unique ratio, and an ``is_candidate_key`` verdict (every
    value present and distinct) — the schema-inference audit that
    finds join keys and catches silent key collisions after an ingest.

    ONE corpus scan: the multi-column exact COUNT(DISTINCT) compiles
    to Catalyst's Expand (each row replicated |cols|+1 ways, then
    map-side-combined) — a documented xK row amplification bought for
    single-pass semantics; for very wide audits run column batches.
    Null counts ride the same aggregate. The unpivot explodes a
    literal array on the single reduced row.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in cols:
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"d_{c}"))
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1)))
            .cast("long")
            .alias(f"z_{c}")
        )
    s = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n").alias("n_rows"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.col(f"z_{c}").alias("n_nulls"),
            F.round(
                F.col(f"d_{c}").cast("double") / F.col("n").cast("double"),
                ndigits,
            ).alias("unique_ratio"),
            (
                (F.col(f"d_{c}") == F.col("n")) & (F.col(f"z_{c}") == 0)
            ).alias("is_candidate_key"),
        )
        for c in cols
    ]
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def candidate_keys_oracle_sql(
    table_sql: str, cols: list[str], ndigits: int = 6
) -> str:
    """DuckDB oracle for :func:`candidate_keys` — one aggregate, one
    UNION ALL arm per column."""
    aggs = ["count(*) AS n"]
    for c in cols:
        aggs.append(f"count(DISTINCT {c}) AS d_{c}")
        aggs.append(f"count(CASE WHEN {c} IS NULL THEN 1 END) AS z_{c}")
    arms = []
    for c in cols:
        arms.append(
            f"SELECT '{c}' AS \"column\", CAST(n AS BIGINT) AS n_rows,"
            f" CAST(d_{c} AS BIGINT) AS n_distinct,"
            f" CAST(z_{c} AS BIGINT) AS n_nulls,"
            f" round(CAST(d_{c} AS DOUBLE) / CAST(n AS DOUBLE), {ndigits})"
            f" AS unique_ratio,"
            f" (d_{c} = n AND z_{c} = 0) AS is_candidate_key FROM s"
        )
    return (
        f"WITH s AS (SELECT {', '.join(aggs)} FROM ({table_sql}))\n"
        + "\nUNION ALL\n".join(arms)
    )


# -- population stability index -----------------------------------------


def psi_report(
    df: DataFrame,
    value_col: str,
    split_col,
    bin_width: int,
    max_bin: int,
    ndigits: int = 6,
) -> DataFrame:
    """Population Stability Index between two cohorts of one numeric
    column — THE model-monitoring drift number (PSI < 0.1 stable,
    0.1-0.25 shifting, > 0.25 broken), complementing
    ``dq_profile_drift``'s schema envelope and ``dq_ks_test``'s
    distribution-equality verdict with the binned magnitude score
    risk teams actually threshold on.

    ``split_col`` is a boolean Column: true rows form cohort A
    (reference), false rows cohort B (current). Binning is FIXED-WIDTH
    integer arithmetic (``least(value div bin_width, max_bin)``) —
    deterministic in any engine, no quantile-edge ambiguity.
    Proportions are Laplace-smoothed by one row per bin so empty bins
    stay finite; per-bin terms round-12 then accumulate as
    DECIMAL(38,12) (the mutual-info ln discipline).

    Output: one row ``(n_a, n_b, n_bins, psi)``.

    NULL ``value_col`` rows are EXCLUDED (filtered before binning, in
    both engines). Without the filter, Spark's null-skipping
    ``least()`` would silently route NULLs to the overflow bin — and
    DuckDB's ``least()`` NULL handling changed across versions, a
    latent cross-engine mismatch on nullable columns.

    100 TB shape: one map-side-combined groupBy to the <= max_bin+1
    frame; everything after runs on that frame.
    """
    b = F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("long"),
        F.lit(max_bin),
    )
    g = df.filter(F.col(value_col).isNotNull()).select(
        split_col.alias("__a"), b.alias("bin")
    ).groupBy("bin").agg(
        F.count(F.when(F.col("__a"), F.lit(1))).alias("ca"),
        F.count(F.when(~F.col("__a"), F.lit(1))).alias("cb"),
    )
    tot = g.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    j = g.crossJoin(F.broadcast(tot))
    pa = (F.col("ca") + 1).cast("double") / (
        F.col("n_a") + F.col("n_bins")
    ).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (
        F.col("n_b") + F.col("n_bins")
    ).cast("double")
    term = F.round((pa - pb) * F.log(pa / pb), 12).cast("decimal(38,12)")
    return (
        j.groupBy("n_a", "n_b", "n_bins")
        .agg(F.round(F.sum(term).cast("double"), ndigits).alias("psi"))
        .select("n_a", "n_b", "n_bins", "psi")
    )


def psi_oracle_sql(
    table_sql: str,
    value_col: str,
    split_sql: str,
    bin_width: int,
    max_bin: int,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`psi_report` — identical integer bins,
    Laplace smoothing, round-12 decimal ln-term ladder, and the same
    NULL-value exclusion (no reliance on either engine's
    version-dependent ``least()`` NULL semantics)."""
    return f"""
    WITH g AS (
      SELECT least(CAST(floor({value_col} / {bin_width}) AS BIGINT), {max_bin})
               AS bin,
             count(CASE WHEN {split_sql} THEN 1 END) AS ca,
             count(CASE WHEN NOT ({split_sql}) THEN 1 END) AS cb
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM g
    )
    SELECT n_a, n_b, n_bins,
           round(CAST(sum(CAST(round(
             (CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE)
              - CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE))
             * ln((CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE))
                  / (CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE))),
             12) AS DECIMAL(38,12))) AS DOUBLE), {ndigits}) AS psi
    FROM g, tot
    GROUP BY n_a, n_b, n_bins
    """


# -- per-column entropy profile ------------------------------------------


def column_entropy(
    df: DataFrame, cols: list[str], ndigits: int = 6
) -> DataFrame:
    """Shannon entropy profile per column: H(col) in nats, the
    normalized H/ln(ndv) (1.0 = uniform, -> 0 = near-constant), and
    the exact distinct count — the information-density audit that
    flags near-constant columns (useless features, broken feeds) and
    quantifies key spread, complementing :func:`candidate_keys`'
    binary verdicts.

    NULLs count as a regular category (a feed that went 99% NULL
    should read near-constant, not be silently dropped).

    One corpus pass: rows unpivot to (column, value-as-string) via a
    literal-array explode (|cols| x amplification, the Expand-style
    trade), then one map-side-combined groupBy to the per-column
    value tables; ln terms round-12 then accumulate as DECIMAL(38,12)
    (the mutual-info discipline).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.coalesce(F.col(c).cast("string"), F.lit("__NULL__")).alias(
                    "val"
                ),
            )
            for c in cols
        ]
    )
    g = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.col", "p.val")
        .groupBy("col", "val")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = g.groupBy("col").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
    )
    j = g.join(tot, "col")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 12).cast("decimal(38,12)")
    ent = (
        j.groupBy("col", "n", "ndv")
        .agg(F.sum(term).cast("double").alias("__h"))
        .select(
            F.col("col").alias("column"),
            "n",
            "ndv",
            F.round("__h", ndigits).alias("entropy"),
            F.round(
                F.when(
                    F.col("ndv") > 1,
                    F.col("__h") / F.log(F.col("ndv").cast("double")),
                ).otherwise(F.lit(0.0)),
                ndigits,
            ).alias("normalized"),
        )
    )
    return ent


def column_entropy_oracle_sql(
    table_sql: str, cols: list[str], ndigits: int = 6
) -> str:
    """DuckDB oracle for :func:`column_entropy` — identical unpivot,
    NULL category, and round-12 decimal ln ladder."""
    arms = ", ".join(
        f"{{'col': '{c}',"
        f" 'val': coalesce(CAST({c} AS VARCHAR), '__NULL__')}}"
        for c in cols
    )
    return f"""
    WITH base AS (SELECT * FROM ({table_sql})),
    pairs AS (
      SELECT u['col'] AS col, u['val'] AS val
      FROM base, unnest([{arms}]) AS t(u)
    ), g AS (
      SELECT col, val, count(*) AS c FROM pairs GROUP BY 1, 2
    ), tot AS (
      SELECT col, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS ndv
      FROM g GROUP BY col
    ), ent AS (
      SELECT g.col, n, ndv,
             CAST(sum(CAST(round(
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM g JOIN tot ON g.col = tot.col
      GROUP BY g.col, n, ndv
    )
    SELECT col AS "column", n, ndv, round(h, {ndigits}) AS entropy,
           round(CASE WHEN ndv > 1 THEN h / ln(CAST(ndv AS DOUBLE))
                      ELSE 0.0 END, {ndigits}) AS normalized
    FROM ent
    """


# -- Mann-Whitney U (Wilcoxon rank-sum) ----------------------------------


def mann_whitney(
    df: DataFrame,
    value_col: str,
    split_col,
    ndigits: int = 6,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two cohorts of
    one numeric column — the nonparametric location test that
    complements :func:`ks_test`'s distribution-equality verdict and
    events.welch_ttest's mean test when the values are heavy-tailed
    (revenue, latencies): it asks "does cohort A stochastically
    dominate cohort B", immune to outliers that wreck a t-test.

    ``split_col`` is a boolean Column: true rows form cohort A. Exact
    pooled ranks with average-rank ties and NO global window (the
    spearman_corr machinery): one map-side-combined groupBy to the
    distinct-value table with per-cohort counts, one distributed
    range-prefix over it, one single-row aggregate. The derivation
    carries twice-average-ranks (always integral) so every moment is
    an exact decimal; the normal approximation z uses the standard
    tie-corrected variance
    ``na*nb/12 * ((n+1) - sum(t^3-t)/(n*(n-1)))`` and no continuity
    correction. Final doubles are one fixed expression shape both
    engines evaluate identically.

    One row out: ``(n_a, n_b, u_stat, z_score)`` — ``u_stat`` is
    cohort A's U.

    100 TB shape: ranks never touch a global window; the corpus
    reduces to the distinct-value table at the first groupBy.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    base = df.select(
        F.col(value_col).alias("v"), split_col.alias("__a")
    ).filter(F.col("v").isNotNull())
    g = base.groupBy("v").agg(
        F.count(F.when(F.col("__a"), F.lit(1))).alias("ca"),
        F.count(F.when(~F.col("__a"), F.lit(1))).alias("cb"),
    )
    g = g.withColumn(
        "c", (F.col("ca") + F.col("cb")).cast("decimal(38,0)")
    )
    g = distributed_prefix(g, ["v"], sum_col="c", cum_col="__cum")
    # twice-average-rank of the tied block: 2*(rows strictly before)
    # + ties + 1 — always integral (spearman_corr discipline)
    r2 = F.lit(2) * (F.col("__cum") - F.col("c")) + F.col("c") + F.lit(1)
    s = g.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca").cast("decimal(38,0)") * r2).alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    # 2*R_a = r2a; U_a = R_a - na*(na+1)/2  =>  u = (r2a - na*(na+1))/2
    u = (F.col("r2a").cast("double") - na * (na + F.lit(1.0))) / F.lit(2.0)
    var_u = (
        na
        * nb
        / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.col("tie").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    return s.select(
        "n_a",
        "n_b",
        F.round(u, ndigits).alias("u_stat"),
        F.round(
            F.when(var_u > 0, (u - na * nb / F.lit(2.0)) / F.sqrt(var_u)),
            ndigits,
        ).alias("z_score"),
    )


def mann_whitney_oracle_sql(
    table_sql: str,
    value_col: str,
    split_sql: str,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`mann_whitney` — identical pooled
    distinct-value ranks (window cumsum is fine at oracle SF),
    twice-average-rank integral moments, tie-corrected variance, and
    final double expression shape."""
    return f"""
    WITH base AS (
      SELECT {value_col} AS v, ({split_sql}) AS a
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL
    ), g AS (
      SELECT v, count(CASE WHEN a THEN 1 END) AS ca,
             count(CASE WHEN NOT a THEN 1 END) AS cb
      FROM base GROUP BY v
    ), p AS (
      SELECT ca, cb, CAST(ca + cb AS DECIMAL(38,0)) AS c,
             sum(CAST(ca + cb AS DECIMAL(38,0))) OVER (ORDER BY v)
               AS cum
      FROM g
    ), s AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             sum(CAST(ca AS DECIMAL(38,0)) * (2 * (cum - c) + c + 1))
               AS r2a,
             sum(c * c * c - c) AS tie
      FROM p
    )
    SELECT n_a, n_b,
           round((CAST(r2a AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0))
                 / 2.0, {ndigits}) AS u_stat,
           round(CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                   * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                      - CAST(tie AS DOUBLE)
                        / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                           * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                              - 1.0))) > 0
             THEN ((CAST(r2a AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0))
                   / 2.0
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                  / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                   * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                      - CAST(tie AS DOUBLE)
                        / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                           * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                              - 1.0))))
             END, {ndigits}) AS z_score
    FROM s
    """


# -- block-jackknife confidence interval ---------------------------------


def jackknife_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_groups: int = 20,
    z: float = 1.96,
    ndigits: int = 6,
) -> DataFrame:
    """Delete-one-block jackknife standard error and confidence
    interval for the mean of one numeric column — distributed
    uncertainty quantification with NO resampling RNG: rows partition
    deterministically into ``n_groups`` blocks by ``id_col %
    n_groups``, the leave-one-block-out means are computed from exact
    block sums, and the jackknife variance ``(g-1)/g * sum((m_i -
    mbar)^2)`` prices the estimate's stability. The tool an A/B or
    data-mixture readout needs next to the point estimate (a plain
    s/sqrt(n) SE understates error under within-block correlation —
    the usual case when blocks follow ingest order).

    ``id_col`` must be an integral column (ids); negative ids are
    assigned pmod (non-negative residue) blocks, and the oracle uses
    the same ``((id % n) + n) % n`` convention. Output: one row
    ``(n_rows, n_blocks, mean, se_jack, ci_lo, ci_hi)``; ``se_jack`` /
    ``ci_*`` are explicit NULLs when fewer than 2 blocks are populated.

    Determinism ladder: block sums are exact DECIMAL(38,6); each
    leave-one-out mean is one double division, round-12, back to
    DECIMAL(38,12) for the cross-block sums (the mutual-info ln
    discipline — cross-engine float summation order never matters).

    100 TB shape: ONE map-side-combined groupBy to the g-row block
    frame; both jackknife passes run on those g rows against one-row
    broadcast totals.
    """
    if n_groups < 2:
        raise ValueError("n_groups must be >= 2")
    base = df.select(
        F.col(value_col).alias("v"),
        F.pmod(F.col(id_col), F.lit(n_groups)).alias("g"),
    ).filter(F.col("v").isNotNull())
    per = base.groupBy("g").agg(
        F.sum(F.col("v").cast(_DEC)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    tot = per.agg(
        F.sum("s").alias("tot_s"),
        F.sum("c").cast("long").alias("tot_n"),
        F.count(F.lit(1)).cast("long").alias("tot_k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    # guard the leave-one-out division: with ONE populated block the
    # denominator is 0 (ANSI Spark raises DIVIDE_BY_ZERO; DuckDB emits
    # IEEE inf/NaN) — emit NULL instead, matching the oracle's CASE
    m_i = F.when(
        F.col("tot_n") > F.col("c"),
        (F.col("tot_s").cast("double") - F.col("s").cast("double"))
        / (F.col("tot_n").cast("double") - F.col("c").cast("double")),
    )
    m12 = F.round(m_i, 12).cast("decimal(38,12)")
    stage1 = j.groupBy("tot_s", "tot_n", "tot_k").agg(F.sum(m12).alias("sm"))
    j2 = j.crossJoin(
        F.broadcast(stage1.select(F.col("sm"), F.col("tot_k").alias("__k2")))
    )
    mbar2 = F.col("sm").cast("double") / F.col("__k2").cast("double")
    term = F.round(
        (F.round(m_i, 12) - mbar2) * (F.round(m_i, 12) - mbar2), 12
    ).cast("decimal(38,12)")
    s2 = j2.groupBy("tot_s", "tot_n", "tot_k").agg(F.sum(term).alias("ss"))
    kd = F.col("tot_k").cast("double")
    mean_d = F.col("tot_s").cast("double") / F.col("tot_n").cast("double")
    # Degenerate-partition guard: n_groups >= 2 does NOT guarantee >= 2
    # NON-EMPTY blocks (a constant id_col puts every row in one residue
    # class), and a single block makes every leave-one-out mean a 0/0
    # (Spark NULL, DuckDB NaN — the engines diverge). Emit an explicit
    # NULL se/ci below two populated blocks, identically in both.
    se_d = F.when(
        F.col("tot_k") >= 2,
        F.sqrt((kd - F.lit(1.0)) / kd * F.col("ss").cast("double")),
    )
    return s2.select(
        F.col("tot_n").alias("n_rows"),
        F.col("tot_k").alias("n_blocks"),
        F.round(mean_d, ndigits).alias("mean"),
        F.round(se_d, ndigits).alias("se_jack"),
        F.round(mean_d - F.lit(z) * se_d, ndigits).alias("ci_lo"),
        F.round(mean_d + F.lit(z) * se_d, ndigits).alias("ci_hi"),
    )


def jackknife_oracle_sql(
    table_sql: str,
    value_col: str,
    id_col: str,
    n_groups: int = 20,
    z: float = 1.96,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`jackknife_ci` — identical block sums,
    round-12 leave-one-out means, decimal cross-block accumulation,
    and final double expression shapes. Blocking uses pmod semantics
    (``((id % n) + n) % n``) so negative ids land in the same
    non-negative residue class Spark's ``pmod`` assigns them."""
    se_sql = (
        "CASE WHEN tot_k >= 2 THEN"
        " sqrt((CAST(tot_k AS DOUBLE) - 1.0) / CAST(tot_k AS DOUBLE)"
        " * CAST(ss AS DOUBLE)) END"
    )
    return f"""
    WITH base AS (
      SELECT CAST({value_col} AS DECIMAL(38,6)) AS v,
             ((({id_col}) % {n_groups}) + {n_groups}) % {n_groups} AS g
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL
    ), per AS (
      SELECT g, sum(v) AS s, count(*) AS c FROM base GROUP BY g
    ), tot AS (
      SELECT sum(s) AS tot_s, CAST(sum(c) AS BIGINT) AS tot_n,
             CAST(count(*) AS BIGINT) AS tot_k
      FROM per
    ), m AS (
      SELECT tot.tot_s, tot.tot_n, tot.tot_k,
             CASE WHEN tot.tot_n > per.c THEN
               (CAST(tot.tot_s AS DOUBLE) - CAST(per.s AS DOUBLE))
                 / (CAST(tot.tot_n AS DOUBLE) - CAST(per.c AS DOUBLE))
             END AS m_i
      FROM per, tot
    ), s1 AS (
      SELECT tot_s, tot_n, tot_k,
             sum(CAST(round(m_i, 12) AS DECIMAL(38,12))) AS sm
      FROM m GROUP BY tot_s, tot_n, tot_k
    ), s2 AS (
      SELECT m.tot_s, m.tot_n, m.tot_k,
             sum(CAST(round(
               (round(m_i, 12)
                - CAST(s1.sm AS DOUBLE) / CAST(s1.tot_k AS DOUBLE))
               * (round(m_i, 12)
                  - CAST(s1.sm AS DOUBLE) / CAST(s1.tot_k AS DOUBLE)),
               12) AS DECIMAL(38,12))) AS ss
      FROM m, s1 GROUP BY m.tot_s, m.tot_n, m.tot_k
    )
    SELECT tot_n AS n_rows, tot_k AS n_blocks,
           round(CAST(tot_s AS DOUBLE) / CAST(tot_n AS DOUBLE), {ndigits})
             AS mean,
           round({se_sql}, {ndigits}) AS se_jack,
           round(CAST(tot_s AS DOUBLE) / CAST(tot_n AS DOUBLE)
                 - {z!r} * {se_sql}, {ndigits}) AS ci_lo,
           round(CAST(tot_s AS DOUBLE) / CAST(tot_n AS DOUBLE)
                 + {z!r} * {se_sql}, {ndigits}) AS ci_hi
    FROM s2
    """


# -- IQR fence outlier screen --------------------------------------------


def iqr_outliers(
    df: DataFrame,
    cols: list[str],
    fence: float = 1.5,
    ndigits: int = 6,
) -> DataFrame:
    """Tukey-fence outlier screen per numeric column: EXACT Q1/Q3
    (type-1 quantiles — smallest value whose cumulative count reaches
    q*N, the weighted_quantiles convention), the 1.5*IQR fences, and
    how many rows fall outside each — the robust spread audit that
    catches unit mix-ups and sensor spikes a mean/stddev profile
    smooths over.

    Output: one row per column — ``(col_name, n_rows, q1, q3, iqr,
    lo_fence, hi_fence, n_below, n_above, outlier_rate)``.

    100 TB shape: ONE corpus pass — rows unpivot to (column, value)
    via a literal-array explode (|cols| x amplification, the
    column_entropy trade), one map-side-combined groupBy to the
    per-column distinct-value tables (materialized once), then ONE
    distributed range-prefix over the composite (col, v) order; each
    column's cumulative is the global prefix minus its block offset
    (exact long arithmetic). The first cut ran |cols| independent
    prefix pipelines and paid |cols| x the fixed shuffle/checkpoint
    overhead (6.2 s for three lineitem columns at sf0.1; this shape
    ~2 s). Quantile and fence passes run on the reduced tables
    against broadcast per-column frames — never a one-task global
    window.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    if not cols:
        raise ValueError("cols must be non-empty")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"), F.col(c).cast("double").alias("v")
            )
            for c in cols
        ]
    )
    base = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.col", "p.v")
        .filter(F.col("v").isNotNull())
    )
    # counts ride as LONGs: integer addition is exact and associative
    # (the helper's DECIMAL requirement exists for fractional sums;
    # row counts cannot overflow 2^63)
    g = materialize(
        base.groupBy("col", "v").agg(F.count(F.lit(1)).alias("cnt"))
    )
    pre = distributed_prefix(g, ["col", "v"], sum_col="cnt", cum_col="__cum")
    colstat = pre.groupBy("col").agg(
        F.max("__cum").alias("__hi"), F.sum("cnt").alias("__w")
    )
    j = pre.join(
        F.broadcast(
            colstat.select(
                "col", (F.col("__hi") - F.col("__w")).alias("__off"), "__w"
            )
        ),
        "col",
    )
    cum_d = (F.col("__cum") - F.col("__off")).cast("double")
    w_d = F.col("__w").cast("double")
    qrow = j.groupBy("col").agg(
        F.min(F.when(cum_d >= F.lit(0.25) * w_d, F.col("v"))).alias("q1"),
        F.min(F.when(cum_d >= F.lit(0.75) * w_d, F.col("v"))).alias("q3"),
    )
    lo = F.col("q1") - F.lit(fence) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(fence) * (F.col("q3") - F.col("q1"))
    fr = g.join(F.broadcast(qrow), "col")
    agg = fr.groupBy("col", "q1", "q3").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v") < lo, F.col("cnt"))).cast("long").alias(
            "__nb"
        ),
        F.sum(F.when(F.col("v") > hi, F.col("cnt"))).cast("long").alias(
            "__na"
        ),
    )
    return agg.select(
        F.col("col").alias("col_name"),
        "n_rows",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        lo.alias("lo_fence"),
        hi.alias("hi_fence"),
        F.coalesce(F.col("__nb"), F.lit(0)).alias("n_below"),
        F.coalesce(F.col("__na"), F.lit(0)).alias("n_above"),
        F.round(
            (
                F.coalesce(F.col("__nb"), F.lit(0))
                + F.coalesce(F.col("__na"), F.lit(0))
            ).cast("double")
            / F.col("n_rows").cast("double"),
            ndigits,
        ).alias("outlier_rate"),
    )


def iqr_outliers_oracle_sql(
    table_sql: str,
    cols: list[str],
    fence: float = 1.5,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`iqr_outliers` — identical type-1
    quantiles from a window cumsum over the distinct-value table
    (fine at oracle SF) and identical fence arithmetic."""
    legs = []
    for c in cols:
        legs.append(f"""
    SELECT '{c}' AS col_name, n_rows, q1, q3, q3 - q1 AS iqr,
           q1 - {fence!r} * (q3 - q1) AS lo_fence,
           q3 + {fence!r} * (q3 - q1) AS hi_fence,
           n_below, n_above,
           round(CAST(n_below + n_above AS DOUBLE)
                 / CAST(n_rows AS DOUBLE), {ndigits}) AS outlier_rate
    FROM (
      WITH g AS (
        SELECT CAST({c} AS DOUBLE) AS v, count(*) AS cnt
        FROM ({table_sql}) WHERE {c} IS NOT NULL GROUP BY 1
      ), p AS (
        SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM g
      ), w AS (SELECT max(cum) AS W FROM p),
      q AS (
        SELECT
          (SELECT min(v) FROM p, w
           WHERE CAST(cum AS DOUBLE) >= 0.25 * CAST(W AS DOUBLE)) AS q1,
          (SELECT min(v) FROM p, w
           WHERE CAST(cum AS DOUBLE) >= 0.75 * CAST(W AS DOUBLE)) AS q3
      )
      SELECT q.q1, q.q3,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN v < q1 - {fence!r} * (q3 - q1)
                                    THEN cnt END), 0) AS BIGINT) AS n_below,
             CAST(coalesce(sum(CASE WHEN v > q3 + {fence!r} * (q3 - q1)
                                    THEN cnt END), 0) AS BIGINT) AS n_above
      FROM g, q GROUP BY q.q1, q.q3
    )""")
    return " UNION ALL ".join(legs)


# -- id-sequence completeness audit --------------------------------------


def sequence_gaps(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Completeness audit of a supposedly-dense integral id sequence:
    how many ids in [min, max] are MISSING, how many rows are
    duplicates of an already-seen id, and the largest contiguous gap —
    the first question after every ingest of an autoincrement-keyed
    feed ("did we drop a chunk, did we double-load one").

    One row out: ``(n_rows, n_distinct, n_duplicate_rows, min_id,
    max_id, n_missing, max_gap)``. ``max_gap`` is the largest run of
    consecutive missing ids (0 when the range is dense or fewer than
    two distinct ids exist).

    100 TB shape: one map-side-combined groupBy to the distinct-id
    table; scalar stats come from one aggregate over it; the gap scan
    is the distributed range-prefix (rank) plus ONE equi-join on
    rank+1 — successor differences without a global window funnel.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    g = materialize(
        df.select(F.col(id_col).cast("long").alias("i"))
        .filter(F.col("i").isNotNull())
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = g.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("cnt") - 1).cast("long").alias("n_duplicate_rows"),
        F.min("i").alias("min_id"),
        F.max("i").alias("max_id"),
    )
    ranked = distributed_prefix(g.select("i"), ["i"], rank_col="r")
    succ = ranked.join(
        ranked.select(
            (F.col("r") - 1).alias("r"), F.col("i").alias("i_next")
        ),
        "r",
    )
    gap = succ.agg(
        F.coalesce(
            F.max(F.col("i_next") - F.col("i") - 1), F.lit(0)
        ).cast("long").alias("max_gap")
    )
    return stats.crossJoin(F.broadcast(gap)).select(
        "n_rows",
        "n_distinct",
        "n_duplicate_rows",
        "min_id",
        "max_id",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct"))
        .cast("long")
        .alias("n_missing"),
        "max_gap",
    )


def sequence_gaps_oracle_sql(table_sql: str, id_col: str) -> str:
    """DuckDB oracle for :func:`sequence_gaps` — identical distinct-id
    stats and a lag-window successor scan (fine at oracle SF)."""
    return f"""
    WITH g AS (
      SELECT CAST({id_col} AS BIGINT) AS i, count(*) AS cnt
      FROM ({table_sql}) WHERE {id_col} IS NOT NULL GROUP BY 1
    ), stats AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(cnt - 1) AS BIGINT) AS n_duplicate_rows,
             min(i) AS min_id, max(i) AS max_id
      FROM g
    ), gaps AS (
      SELECT CAST(coalesce(max(nxt - i - 1), 0) AS BIGINT) AS max_gap
      FROM (
        SELECT i, lead(i) OVER (ORDER BY i) AS nxt FROM g
      ) WHERE nxt IS NOT NULL
    )
    SELECT n_rows, n_distinct, n_duplicate_rows, min_id, max_id,
           CAST(max_id - min_id + 1 - n_distinct AS BIGINT) AS n_missing,
           max_gap
    FROM stats, gaps
    """


# -- missingness-structure (null co-occurrence) audit ---------------------


def null_correlation(
    df: DataFrame,
    cols: list[str],
    ndigits: int = 6,
) -> DataFrame:
    """Pairwise NULL co-occurrence audit: for every column pair, the
    2x2 missingness table and its phi coefficient — the structure-of-
    missingness readout that separates "random nulls" from "these two
    fields die together" (one broken upstream join) or "exactly one is
    ever set" (a mis-merged union). A per-column null COUNT cannot see
    either.

    Output: one row per unordered pair — ``(col_a, col_b, n_rows,
    n_both_null, n_only_a, n_only_b, null_rate_a, null_rate_b, phi)``
    with phi NULL when any margin is empty (constant missingness).

    100 TB shape: ONE map-side-combined aggregate computes every
    pair's cell counts in a single corpus pass (|cols|^2 conditional
    sums ride as aggregate buffers — columns are few by construction);
    the unpivot to pair rows happens on the single reduced row.
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    pairs = []
    for i, a in enumerate(cols):
        aggs.append(
            F.count(F.when(F.col(a).isNull(), F.lit(1)))
            .cast("long")
            .alias(f"__na_{i}")
        )
        for j in range(i + 1, len(cols)):
            b = cols[j]
            aggs.append(
                F.count(
                    F.when(F.col(a).isNull() & F.col(b).isNull(), F.lit(1))
                )
                .cast("long")
                .alias(f"__nb_{i}_{j}")
            )
            pairs.append((i, j, a, b))
    row = df.agg(*aggs)
    arms = []
    for i, j, a, b in pairs:
        n = F.col("__n").cast("double")
        na = F.col(f"__na_{i}").cast("double")
        nb = F.col(f"__na_{j}").cast("double")
        n11 = F.col(f"__nb_{i}_{j}").cast("double")
        n10 = na - n11
        n01 = nb - n11
        n00 = n - na - nb + n11
        den = F.sqrt(na * (n - na) * nb * (n - nb))
        arms.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nb_{i}_{j}").alias("n_both_null"),
                (F.col(f"__na_{i}") - F.col(f"__nb_{i}_{j}")).alias(
                    "n_only_a"
                ),
                (F.col(f"__na_{j}") - F.col(f"__nb_{i}_{j}")).alias(
                    "n_only_b"
                ),
                F.round(na / n, ndigits).alias("null_rate_a"),
                F.round(nb / n, ndigits).alias("null_rate_b"),
                F.round(
                    F.when(den > 0, (n11 * n00 - n10 * n01) / den), ndigits
                ).alias("phi"),
            )
        )
    return row.select(F.explode(F.array(*arms)).alias("p")).select("p.*")


def null_correlation_oracle_sql(
    table_sql: str,
    cols: list[str],
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`null_correlation` — identical one-pass
    cell counts and phi expression shape."""
    sel = ["count(*) AS n"]
    for i, a in enumerate(cols):
        sel.append(f"count(CASE WHEN {a} IS NULL THEN 1 END) AS na_{i}")
        for j in range(i + 1, len(cols)):
            sel.append(
                f"count(CASE WHEN {a} IS NULL AND {cols[j]} IS NULL "
                f"THEN 1 END) AS nb_{i}_{j}"
            )
    legs = []
    for i, a in enumerate(cols):
        for j in range(i + 1, len(cols)):
            b = cols[j]
            n = "CAST(n AS DOUBLE)"
            na = f"CAST(na_{i} AS DOUBLE)"
            nb = f"CAST(na_{j} AS DOUBLE)"
            n11 = f"CAST(nb_{i}_{j} AS DOUBLE)"
            den = f"sqrt({na} * ({n} - {na}) * {nb} * ({n} - {nb}))"
            legs.append(f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           CAST(n AS BIGINT) AS n_rows,
           CAST(nb_{i}_{j} AS BIGINT) AS n_both_null,
           CAST(na_{i} - nb_{i}_{j} AS BIGINT) AS n_only_a,
           CAST(na_{j} - nb_{i}_{j} AS BIGINT) AS n_only_b,
           round({na} / {n}, {ndigits}) AS null_rate_a,
           round({nb} / {n}, {ndigits}) AS null_rate_b,
           round(CASE WHEN {den} > 0 THEN
             ({n11} * ({n} - {na} - {nb} + {n11})
              - ({na} - {n11}) * ({nb} - {n11})) / {den} END,
             {ndigits}) AS phi
    FROM c""")
    return (
        f"WITH c AS (SELECT {', '.join(sel)} FROM ({table_sql}))"
        + " UNION ALL ".join(legs)
    )


# -- winsorized mean ------------------------------------------------------


def winsorized_mean(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    ndigits: int = 6,
) -> DataFrame:
    """Winsorized mean: clamp the column at its EXACT type-1
    ``lo_q``/``hi_q`` quantiles, then average — the robust location
    estimate that keeps a corrupted feed's spikes from dragging the
    topline, reported next to the raw mean so the gap itself is the
    outlier-impact number.

    One row out: ``(n_rows, p_lo, p_hi, raw_mean, winsorized_mean,
    n_clamped_lo, n_clamped_hi)``.

    100 TB shape: one map-side-combined groupBy to the distinct-value
    table (materialized once), one distributed range-prefix for the
    quantiles, then ONE pass over that same small table computes the
    clamped sum exactly (cnt x clamp(v) in decimal) — the corpus is
    scanned once, clamping never touches it.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    if not 0 <= lo_q < hi_q <= 1:
        raise ValueError(f"need 0 <= lo_q < hi_q <= 1, got {lo_q}, {hi_q}")
    g = materialize(
        df.select(F.col(value_col).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pre = distributed_prefix(g, ["v"], sum_col="cnt", cum_col="__cum")
    tot = pre.agg(F.max("__cum").alias("W"))
    jq = pre.crossJoin(F.broadcast(tot))
    cum_d = F.col("__cum").cast("double")
    w_d = F.col("W").cast("double")
    qrow = jq.agg(
        F.min(
            F.when(cum_d >= F.lit(lo_q) * w_d, F.col("v"))
        ).alias("p_lo"),
        F.min(
            F.when(cum_d >= F.lit(hi_q) * w_d, F.col("v"))
        ).alias("p_hi"),
    )
    fr = g.crossJoin(F.broadcast(qrow))
    clamped = F.greatest(F.least(F.col("v"), F.col("p_hi")), F.col("p_lo"))
    agg = fr.groupBy("p_lo", "p_hi").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(
            (F.col("cnt") * F.col("v")).cast("decimal(38,6)")
        ).alias("__raw_sum"),
        F.sum(
            (F.col("cnt") * clamped).cast("decimal(38,6)")
        ).alias("__win_sum"),
        F.sum(F.when(F.col("v") < F.col("p_lo"), F.col("cnt")))
        .cast("long")
        .alias("__n_lo"),
        F.sum(F.when(F.col("v") > F.col("p_hi"), F.col("cnt")))
        .cast("long")
        .alias("__n_hi"),
    )
    return agg.select(
        "n_rows",
        "p_lo",
        "p_hi",
        F.round(
            F.col("__raw_sum").cast("double") / F.col("n_rows").cast("double"),
            ndigits,
        ).alias("raw_mean"),
        F.round(
            F.col("__win_sum").cast("double") / F.col("n_rows").cast("double"),
            ndigits,
        ).alias("winsorized_mean"),
        F.coalesce(F.col("__n_lo"), F.lit(0)).alias("n_clamped_lo"),
        F.coalesce(F.col("__n_hi"), F.lit(0)).alias("n_clamped_hi"),
    )


def winsorized_mean_oracle_sql(
    table_sql: str,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`winsorized_mean` — identical type-1
    quantiles from a window cumsum and the same exact decimal clamped
    sums."""
    return f"""
    WITH g AS (
      SELECT CAST({value_col} AS DOUBLE) AS v, count(*) AS cnt
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL GROUP BY 1
    ), p AS (
      SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM g
    ), w AS (SELECT max(cum) AS W FROM p),
    q AS (
      SELECT
        (SELECT min(v) FROM p, w
         WHERE CAST(cum AS DOUBLE) >= {lo_q!r} * CAST(W AS DOUBLE)) AS p_lo,
        (SELECT min(v) FROM p, w
         WHERE CAST(cum AS DOUBLE) >= {hi_q!r} * CAST(W AS DOUBLE)) AS p_hi
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, q.p_lo, q.p_hi,
           round(CAST(sum(CAST(cnt * v AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(sum(cnt) AS DOUBLE), {ndigits}) AS raw_mean,
           round(CAST(sum(CAST(cnt * greatest(least(v, q.p_hi), q.p_lo)
                               AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(sum(cnt) AS DOUBLE), {ndigits}) AS winsorized_mean,
           CAST(coalesce(sum(CASE WHEN v < q.p_lo THEN cnt END), 0)
                AS BIGINT) AS n_clamped_lo,
           CAST(coalesce(sum(CASE WHEN v > q.p_hi THEN cnt END), 0)
                AS BIGINT) AS n_clamped_hi
    FROM g, q GROUP BY q.p_lo, q.p_hi
    """


# -- 1-D Wasserstein (earth mover's) distance -----------------------------


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    cohort_a,
    cohort_b,
    ndigits: int = 6,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    cohorts' value distributions: ``W1 = integral |F_a(t) - F_b(t)| dt``
    evaluated exactly over the observed support — the drift metric in
    TRANSPORT UNITS (how far mass must move, in the value's own units)
    that complements dq_ks_test's sup-gap (sensitive to one point) and
    dq_psi's binned divergence (bin-choice-dependent). ``cohort_a`` /
    ``cohort_b`` are boolean Columns; rows in neither are ignored.

    Output: one row ``(n_a, n_b, n_values, w1)``; w1 is NULL when
    either cohort is empty.

    Determinism ladder: per-cohort counts cumulate as exact decimals in
    ONE shared range-prefix; each support interval's contribution
    ``|cumA/nA - cumB/nB| * (v_next - v)`` is one double expression
    rounded to 12 and re-accumulated as DECIMAL(38,12) (the mutual-info
    ln discipline) so cross-engine float summation order cannot move a
    bit.

    100 TB shape: ONE map-side-combined groupBy to the distinct-value
    table, ONE distributed range-prefix computing BOTH cohorts' CDFs in
    the same shuffle (:func:`distributed_prefix` list form), a
    rank-equi self-join for the neighbor value (shuffle on rank — never
    a one-task lead() window), then one scalar aggregate."""
    from pydala2_spark.functions.skew import distributed_prefix

    base = df.select(
        F.col(value_col).alias("v"),
        cohort_a.alias("__a"),
        cohort_b.alias("__b"),
    ).filter(
        F.col("v").isNotNull()
        & (F.coalesce(F.col("__a"), F.lit(False))
           | F.coalesce(F.col("__b"), F.lit(False)))
    )
    g = base.groupBy("v").agg(
        F.count(F.when(F.col("__a"), F.lit(1))).cast(_DEC).alias("ca"),
        F.count(F.when(F.col("__b"), F.lit(1))).cast(_DEC).alias("cb"),
    )
    pre = distributed_prefix(
        g, ["v"], sum_col=["ca", "cb"], cum_col=["cum_a", "cum_b"],
        rank_col="__r",
    )
    # totals from the prefix CHECKPOINT (last inclusive cum / max rank)
    # — aggregating g again would re-run the corpus scan + groupBy;
    # counts are nonnegative so the cumulatives are monotone and their
    # max is the exact total
    tot = pre.agg(
        F.max("cum_a").cast("long").alias("n_a"),
        F.max("cum_b").cast("long").alias("n_b"),
        F.max("__r").cast("long").alias("n_values"),
    )
    nxt = pre.select(
        (F.col("__r") - 1).alias("__r"), F.col("v").alias("v_next")
    )
    j = pre.join(nxt, "__r").crossJoin(F.broadcast(tot))
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
    )
    # per-row guard: an empty cohort would make gap a /0 (ANSI error)
    term = F.round(
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            gap * (F.col("v_next") - F.col("v")),
        ),
        12,
    ).cast("decimal(38,12)")
    return (
        j.groupBy("n_a", "n_b", "n_values")
        .agg(F.sum(term).alias("__w1"))
        .select(
            "n_a",
            "n_b",
            "n_values",
            F.round(
                F.when(
                    (F.col("n_a") > 0) & (F.col("n_b") > 0),
                    F.col("__w1").cast("double"),
                ),
                ndigits,
            ).alias("w1"),
        )
    )


def wasserstein_oracle_sql(
    table_sql: str,
    value_col: str,
    cohort_a_sql: str,
    cohort_b_sql: str,
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`wasserstein_1d`: identical distinct-value
    CDF table (window cumsum at oracle SF), identical per-interval
    double expression, round-12 decimal re-accumulation, empty-cohort
    CASE."""
    return f"""
    WITH base AS (
      SELECT {value_col} AS v,
             coalesce(({cohort_a_sql}), FALSE) AS a,
             coalesce(({cohort_b_sql}), FALSE) AS b
      FROM ({table_sql})
      WHERE {value_col} IS NOT NULL
    ), g AS (
      SELECT v,
             CAST(count(CASE WHEN a THEN 1 END) AS DECIMAL(38,6)) AS ca,
             CAST(count(CASE WHEN b THEN 1 END) AS DECIMAL(38,6)) AS cb
      FROM base WHERE a OR b GROUP BY v
    ), pre AS MATERIALIZED (
      SELECT v, sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
             lead(v) OVER w AS v_next
      FROM g WINDOW w AS (ORDER BY v)
    ), t AS MATERIALIZED (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS n_values
      FROM g
    )
    SELECT t.n_a, t.n_b, t.n_values,
           round(CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN CAST(sum(
             CAST(round(CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
               abs(CAST(cum_a AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                   - CAST(cum_b AS DOUBLE) / CAST(t.n_b AS DOUBLE))
               * (v_next - v) END, 12) AS DECIMAL(38,12))
           ) AS DOUBLE) END, {ndigits}) AS w1
    FROM pre, t
    WHERE v_next IS NOT NULL
    GROUP BY t.n_a, t.n_b, t.n_values
    """


# -- ingest freshness / arrival-rate audit --------------------------------


def freshness_report(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group ingest freshness: how stale is each slice relative to
    the corpus frontier, and is its arrival RATE holding? The audit a
    continuously-fed lake runs before anyone trusts "latest" — a feed
    that silently died keeps its historical rows (volume looks fine)
    while its lag grows and its trailing-window rate collapses.

    Per group: ``(group, n_events, last_seen, lag_hours, n_last,
    n_prev, rate_ratio)`` where the windows are the ``window_days``
    before the CORPUS max timestamp and the ``window_days`` before
    that; ``rate_ratio = n_last / n_prev`` (NULL when n_prev is 0).
    ``last_seen`` is a formatted string (determinism rule: no raw
    timestamps cross the oracle gate); ``lag_hours`` is exact integer
    microsecond arithmetic with one double division.

    100 TB shape: ONE one-row corpus-max aggregate broadcast onto the
    scan, then ONE map-side-combined groupBy — two passes, no windows,
    no joins wider than a row."""
    # cast NTZ timestamps up front: unix_micros requires TIMESTAMP, and
    # an NTZ column (common in written-by-Spark corpora) casts exactly
    # under the session's UTC timezone
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    ).filter(F.col("ts").isNotNull())
    frontier = base.agg(F.max("ts").alias("__mx"))
    j = base.crossJoin(F.broadcast(frontier))
    us = F.unix_micros(F.col("ts"))
    mx = F.unix_micros(F.col("__mx"))
    day_us = 86_400_000_000
    last_lo = mx - F.lit(window_days * day_us)
    prev_lo = mx - F.lit(2 * window_days * day_us)
    out = j.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_seen"
        ),
        F.round(
            (F.max(mx) - F.max(us)).cast("double") / F.lit(3.6e9), 4
        ).alias("lag_hours"),
        F.count(F.when(us > last_lo, F.lit(1))).cast("long").alias("n_last"),
        F.count(F.when((us > prev_lo) & (us <= last_lo), F.lit(1)))
        .cast("long")
        .alias("n_prev"),
    )
    return out.select(
        F.col("g").alias(group_col),
        "n_events",
        "last_seen",
        "lag_hours",
        "n_last",
        "n_prev",
        F.round(
            F.when(
                F.col("n_prev") > 0,
                F.col("n_last").cast("double") / F.col("n_prev").cast("double"),
            ),
            ndigits,
        ).alias("rate_ratio"),
    )


def freshness_oracle_sql(
    table: str,
    group_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`freshness_report`: identical integer
    microsecond windows off the corpus max and the same guarded
    ratio."""
    day_us = 86_400_000_000
    return f"""
    WITH base AS (
      SELECT {group_col} AS g, {ts_col} AS ts, epoch_us({ts_col}) AS us
      FROM {table} WHERE {ts_col} IS NOT NULL
    ), f AS (SELECT max(us) AS mx FROM base),
    agg AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS n_events,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
             round(CAST(max(f.mx) - max(us) AS DOUBLE) / 3600000000.0, 4)
               AS lag_hours,
             CAST(count(CASE WHEN us > f.mx - {window_days * day_us}
                             THEN 1 END) AS BIGINT) AS n_last,
             CAST(count(CASE WHEN us > f.mx - {2 * window_days * day_us}
                              AND us <= f.mx - {window_days * day_us}
                             THEN 1 END) AS BIGINT) AS n_prev
      FROM base, f GROUP BY g
    )
    SELECT g AS {group_col}, n_events, last_seen, lag_hours,
           n_last, n_prev,
           round(CASE WHEN n_prev > 0
                      THEN CAST(n_last AS DOUBLE) / CAST(n_prev AS DOUBLE)
                 END, {ndigits}) AS rate_ratio
    FROM agg
    """
