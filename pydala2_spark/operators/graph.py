"""Graph analytics over event-derived edge lists: weighted PageRank
with dangling-mass redistribution, engineered so a fixed iteration
count is bit-reproducible in any engine (the DuckDB oracle unrolls the
same arithmetic).

Reference analogue: none — the reference leaves analytics to its
embedded DuckDB (`/root/reference/pydala/table.py:940-958`). Connected
components already live in :mod:`pydala2_spark.operators.dedup`
(pointer-doubling); PageRank adds the other canonical iterative graph
primitive — importance scoring over a transition graph (next-page
prediction, crawl prioritization, abuse-ring scoring).

Determinism design:
- per-edge contributions round to 15 decimals in DOUBLE (every input
  of that expression is itself deterministic), then accumulate as
  DECIMAL(38,15) so summation order cannot move a bit;
- dangling mass accumulates in DECIMAL(38,12) the same way;
- each iteration's rank rounds to 12 decimals, so iteration k+1
  starts from identical state everywhere;
- damping literals are formatted with full repr by the shared
  generator, so Python float semantics (0.15000000000000002) match.

Scale rule for the fixed-iteration loops (pagerank, personalized
pagerank, hits, label propagation; kcore's finisher follows the same
rule with its own budget): the driver-loop rule of
:mod:`pydala2_spark.local` with :data:`DRIVER_EDGE_BUDGET` edge rows.
The operator checkpoints its edge frame once, counting its rows in
the same job; a smaller frame is fetched once and iterated on the
driver, a larger one runs the distributed loop, bit-identical.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pydala2_spark.frames import materialize, materialize_counted
from pydala2_spark.local import (
    _fetch_local,
    _half_up,
    _local_frame,
    _round,
    _sum_by,
    _to_double,
    _total,
)

DRIVER_EDGE_BUDGET = 2_000_000
"""Edge frames with fewer rows than this (counted after the
operator's projection) are fetched and iterated on the driver by the
fixed-iteration graph loops.

Driver-memory bound: the fetched Arrow table (8 bytes per ``long``
id and weight, 48 MB for a 2M-row weighted frame) plus the loop's
per-edge numpy arrays. Measured on a 4-vCPU VM over random graphs
with ``long`` ids, the Python process's peak RSS rose by about 280 MB
for PageRank and HITS and by about 470 MB for label propagation (two
adjacency rows per edge) at 2M edges, roughly linear in the edge
count. At 2M edges the driver loops took 3.2 s (PageRank, 3
iterations), 3.8 s (HITS, 4) and 7.8 s (label propagation, 4 rounds)
against 35 s, 40 s and 18 s for the distributed loops; at 4M the
driver was still faster, but label propagation's peak passed 1 GB,
so the budget stays at 2M."""

def _endpoints(e: DataFrame, a: str, b: str, out: str = "n") -> DataFrame:
    """Both edge endpoints in ONE scan of the edge frame (explode) —
    the two-branch union form reads the frame twice per consumer (the
    concurrency_sweep lesson; multiset output is identical)."""
    return e.select(F.explode(F.array(a, b)).alias(out))


def _symmetrize(
    e: DataFrame, a: str, b: str, u: str = "u", v: str = "v"
) -> DataFrame:
    """Undirected adjacency — every edge in both directions — in ONE
    scan (explode of the two oriented structs), not a two-branch
    union scanning the edge frame twice. Multiset-identical output."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(u), F.col(b).alias(v)),
                F.struct(F.col(b).alias(u), F.col(a).alias(v)),
            )
        ).alias("__s")
    ).select(f"__s.{u}", f"__s.{v}")


# -- driver loops (pydala2_spark.local): sizing, encoding ---------------


def _local_edges(df: DataFrame, op: str) -> tuple[pa.Table | None, DataFrame]:
    """The size rule (:mod:`pydala2_spark.local`): checkpoint ``df``
    counting its rows; if there are fewer than
    :data:`DRIVER_EDGE_BUDGET`, fetch them for the driver loop (a
    budget of 0 forces the distributed loop). Returns ``(table or
    None, checkpointed frame)`` — the distributed loop runs on the
    checkpoint, so the caller's edge derivation never replays."""
    ck, n = materialize_counted(df, f"graph.{op}: checkpoint edges")
    if n >= DRIVER_EDGE_BUDGET:
        return None, ck
    return _fetch_local(ck, f"graph.{op}: fetch edges"), ck


def _node_type(*cols: DataFrame) -> DataType:
    """The type Spark's union of these one-column frames resolves to —
    the node column type the distributed loop produces. Casting both
    endpoints to it before the checkpoint keeps the driver output's
    schema identical (a no-op when the endpoint types agree)."""
    u = cols[0]
    for c in cols[1:]:
        u = u.union(c)
    return u.schema[0].dataType


def _encode(*arrays: pa.ChunkedArray) -> tuple[pa.Array, list[np.ndarray]]:
    """Sorted distinct non-null values of ``arrays`` (one Arrow type)
    and each array as int64 codes into them, ``len(values)`` for null:
    null gets a slot of its own because Spark keeps a null node but no
    equi-join ever matches it. Sorted codes make "smallest label" the
    smallest code (Arrow and Spark both order strings by bytes)."""
    allv = pa.chunked_array(
        [c for a in arrays for c in a.chunks], type=arrays[0].type
    )
    values = pc.unique(allv).drop_null()
    values = values.take(pc.array_sort_indices(values))
    null = len(values)
    codes = [
        pc.fill_null(pc.index_in(a, value_set=values), null)
        .to_numpy()
        .astype(np.int64)
        for a in arrays
    ]
    return values, codes


def _node_values(values: pa.Array, codes: np.ndarray) -> pa.Array:
    """Node ids for codes from :func:`_encode` (the null slot → null)."""
    return values.take(pa.array(codes, mask=codes == len(values)))


def _ranks_local(
    tbl: pa.Table,
    damping: float,
    iterations: int,
    seeds: pa.ChunkedArray | None = None,
) -> tuple[pa.Array, np.ndarray]:
    """Driver loop of :func:`pagerank` (``seeds`` None) and of
    :func:`personalized_pagerank`: the same joins, round/decimal steps
    and null semantics as the distributed loop, vectorized over edges.

    Null semantics (equi-joins never match null): a null node exists
    if any endpoint or seed is null; it receives no contributions and
    always counts as dangling; edges out of it contribute nothing;
    edges into it still count in their source's out-weight. A null
    seed counts in |S| but is no seed node. A null weight contributes
    nothing but keeps its source off the dangling set."""
    arrays = [tbl["src"], tbl["dst"]] + ([seeds] if seeds is not None else [])
    values, codes = _encode(*arrays)
    src, dst = codes[0], codes[1]
    null = len(values)
    n = null + int(any((c == null).any() for c in codes))
    if n == 0:
        return values, np.zeros(0)
    w = tbl["w"]
    w_num = pc.fill_null(w, 0).to_numpy()
    joins = src != null
    dangling = np.ones(n, bool)
    dangling[src[joins]] = False
    live = joins & ~pc.is_null(w).to_numpy()
    if w_num.dtype.kind in "iu":
        ow = _sum_by(src[live], w_num[live].astype(np.int64), n)
    else:
        ow = np.zeros(n)
        np.add.at(ow, src[live], w_num[live])
    to = live & (dst != null)
    es, ed = src[to], dst[to]
    w_e = w_num[to].astype(np.float64)
    ow_e = np.asarray(ow, dtype=np.float64)[es]
    base = 1.0 - damping
    if seeds is None:
        pr = np.full(n, _round(np.array([1.0 / n]), 12)[0])
    else:
        is_seed = np.zeros(n, bool)
        is_seed[codes[2][codes[2] != null]] = True
        # |S| divides on seed rows only: with none, its value is unread
        n_seeds = max(int(is_seed.sum()) + int((codes[2] == null).any()), 1)
        pr = np.where(is_seed, _round(np.array([1.0 / n_seeds]), 12)[0], 0.0)
    for _ in range(iterations):
        c = _half_up(_round(pr[es] * w_e / ow_e, 15), 15)
        s = _to_double(_sum_by(ed, c, n), 15)
        d = _total(_half_up(pr[dangling], 12), 12)
        if seeds is None:
            pr = _round(base / n + damping * (s + d / n), 12)
        else:
            on_seed = _round(base / n_seeds + damping * (s + d / n_seeds), 12)
            pr = np.where(is_seed, on_seed, _round(damping * s, 12))
    return _node_values(values, np.arange(n)), pr


def _hits_local(
    tbl: pa.Table, iterations: int
) -> tuple[pa.Array, np.ndarray, pa.Array, np.ndarray]:
    """Driver loop of :func:`hits` over the distinct (hub, auth) pairs.
    A score frame only keeps the keys that joined: an authority exists
    once a scored hub points at it, a hub once it points at a scored
    authority. Null ids join nothing but still collect a score."""
    hv, (hub,) = _encode(tbl["hub"])
    av, (auth,) = _encode(tbl["auth"])
    nh, na = len(hv) + 1, len(av) + 1
    hub, auth = np.divmod(np.unique(hub * na + auth), na)
    h_on = np.zeros(nh, bool)
    h_on[hub] = True
    h = np.ones(nh)
    a_on, a = np.zeros(na, bool), np.zeros(na)

    def update(key, on, score, out, n_out):
        rows = on[key] & (key != len(on) - 1)
        raw = _sum_by(out[rows], _half_up(score[key[rows]], 12), n_out)
        got = np.zeros(n_out, bool)
        got[out[rows]] = True
        total = _total(raw[got], 12) if got.any() else 1.0
        return got, np.where(got, _round(_to_double(raw, 12) / total, 12), 0.0)

    for _ in range(iterations):
        a_on, a = update(hub, h_on, h, auth, na)
        h_on, h = update(auth, a_on, a, hub, nh)
    hubs, auths = np.flatnonzero(h_on), np.flatnonzero(a_on)
    return _node_values(hv, hubs), h[hubs], _node_values(av, auths), a[auths]


def _label_propagation_local(
    tbl: pa.Table, rounds: int
) -> tuple[pa.Array, pa.Array]:
    """Driver loop of :func:`label_propagation`: per round, count the
    current labels of each node's neighbors over the symmetrized edge
    rows (duplicates and self-loops count with multiplicity) and keep
    the most frequent, ties to the smallest. A node none of whose
    neighbors holds a label drops out, as it does from the distributed
    join; the null node labels itself from its neighbors but is never
    read as one."""
    values, (s, d) = _encode(tbl["src"], tbl["dst"])
    null = len(values)
    u, v = np.concatenate([s, d]), np.concatenate([d, s])
    lbl = np.full(null + 1, -1, np.int64)
    lbl[:null] = np.arange(null)
    m = max(null, 1)
    for _ in range(rounds):
        rows = (v != null) & (lbl[v] >= 0)
        key, count = np.unique(u[rows] * m + lbl[v[rows]], return_counts=True)
        node, label = np.divmod(key, m)
        first = np.lexsort((label, -count, node))
        node, label = node[first], label[first]
        keep = np.diff(node, prepend=-1) != 0  # first row per node
        lbl = np.full(null + 1, -1, np.int64)
        lbl[node[keep]] = label[keep]
    nodes = np.flatnonzero(lbl >= 0)
    return _node_values(values, nodes), _node_values(values, lbl[nodes])


def transition_edges(
    ev: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Weighted edge list from consecutive events per user:
    ``(src, dst, w)`` where w counts observed src→dst transitions
    (order by ``ts_col`` then ``id_col`` — fully deterministic).

    100 TB shape: one window shuffle keyed by user (each user's events
    sort locally), then one map-side-combining count agg — the edge
    list is |vocabulary|² at most, tiny next to the corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    return (
        ev.select(
            F.col(type_col).alias("src"),
            F.lead(type_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """Weighted PageRank with dangling-node redistribution, run for a
    FIXED iteration count: ``pr' = (1-d)/N + d*(Σ_in pr·w/outw + D/N)``
    where D is the total rank mass on nodes without out-edges.

    Output: ``(node, pr)`` with pr rounded to 12 decimals per
    iteration (see module docstring for why that makes a SQL oracle
    possible).

    100 TB shape: the edge frame is checkpointed once (its rows
    counted in the same job). Below :data:`DRIVER_EDGE_BUDGET` rows
    (bounded vocabularies: event types, page templates, token graphs)
    it is fetched once and the fixed iteration count runs on the
    driver — one fetch job instead of several jobs per iteration,
    bit-identical results. Above the budget the distributed loop runs:
    the rank frame is |nodes| rows shuffling on node, contributions
    combine map-side through the decimal sum, and nothing collects to
    the driver. ``iterations`` is deliberately explicit: each round
    adds one join to the lineage, so convergence loops should
    checkpoint — fixed-k scoring (the common production use) does not
    need to.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")

    t = _node_type(edges.select("src"), edges.select("dst"))
    local, edges = _local_edges(
        edges.select(
            F.col("src").cast(t).alias("src"), F.col("dst").cast(t).alias("dst"), "w"
        ),
        "pagerank",
    )
    if local is not None:
        node, pr = _ranks_local(local, damping, iterations)
        return _local_frame(
            edges.sparkSession, {"node": (t, node), "pr": (DoubleType(), pr)}
        )
    # the edge frame is checkpointed above; materialize the loop's
    # other shared frames once and each iteration's rank frame: every
    # pr reference otherwise re-derives the ENTIRE upstream lineage
    # (edge window included) per iteration per join side — measured
    # 206 exchanges / 81 Window recomputes at k=3 before this, 1
    # edge-derivation after
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ncnt = nodes.agg(F.count(F.lit(1)).alias("__n"))
    outw = materialize(edges.groupBy("src").agg(F.sum("w").alias("ow")))
    pr = nodes.crossJoin(F.broadcast(ncnt)).select(
        "node",
        F.round(F.lit(1.0) / F.col("__n"), 12).alias("pr"),
    )
    base = 1.0 - damping
    for _ in range(iterations):
        pr = materialize(pr)
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") * F.col("w") / F.col("ow"), 15)
                .cast("decimal(38,15)")
                .alias("__c"),
            )
        )
        incoming = contrib.groupBy("node").agg(
            F.sum("__c").cast("double").alias("__s")
        )
        dangling = (
            pr.join(outw, pr["node"] == outw["src"], "left_anti")
            .agg(F.sum(F.col("pr").cast("decimal(38,12)")).cast("double").alias("__d"))
        )
        pr = (
            nodes.join(incoming, "node", "left")
            .crossJoin(F.broadcast(ncnt))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(base) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__s"), F.lit(0.0))
                        + F.coalesce(F.col("__d"), F.lit(0.0)) / F.col("__n")
                    ),
                    12,
                ).alias("pr"),
            )
        )
    return pr


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    iterations: int = 3,
) -> str:
    """DuckDB SQL reproducing :func:`pagerank` exactly: the iteration
    unrolls into chained CTEs carrying the same round/decimal steps.
    ``edges_sql`` must yield columns (src, dst, w)."""
    base = 1.0 - damping
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nc AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)",
        "it0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / n, 12) AS pr FROM nodes CROSS JOIN nc)",
    ]
    for i in range(iterations):
        prev, cur = f"it{i}", f"it{i + 1}"
        parts.append(
            f"""inc{i} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(round(p.pr * e.w / o.ow, 15) AS DECIMAL(38,15)))
                  AS DOUBLE) AS s
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN outw o ON o.src = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""dang{i} AS (
      SELECT coalesce(CAST(sum(CAST(p.pr AS DECIMAL(38,12))) AS DOUBLE), 0.0)
               AS d
      FROM {prev} p LEFT JOIN outw o ON o.src = p.node
      WHERE o.src IS NULL
    )"""
        )
        parts.append(
            f"""{cur} AS (
      SELECT n.node,
             round(CAST({base!r} AS DOUBLE) / nc.n
                   + CAST({damping!r} AS DOUBLE)
                     * (coalesce(i.s, 0.0) + g.d / nc.n), 12) AS pr
      FROM nodes n
      LEFT JOIN inc{i} i ON i.node = n.node
      CROSS JOIN nc CROSS JOIN dang{i} g
    )"""
        )
    body = ",\n    ".join(parts[1:])
    return f"{parts[0]},\n    {body}\n    SELECT node, pr FROM it{iterations}"


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected graph —
    ``(node, n_triangles)`` for every node in at least one triangle.

    Degree-oriented enumeration (the classic O(m^1.5) bound): define
    the total order π(x) = (degree(x), x) and direct every edge from
    its π-smaller endpoint. Each triangle {x,y,z} with
    π(x)<π(y)<π(z) is then found EXACTLY ONCE as the wedge
    (x→y, x→z) closed by the oriented edge y→z. Orientation caps
    out-degree at O(sqrt(m)), so the wedge self-join — the only
    superlinear step — meets the optimal triangle-listing bound
    instead of exploding on hub nodes.

    100 TB shape: three equi-joins keyed on node ids (degrees
    broadcast-or-shuffle by size), no windows, no driver state; the
    wedge join's skew is structurally bounded by the orientation, which
    is why this shape survives power-law graphs where the naive
    3-way self-join dies on the hottest hub. The normalized edge
    frame, the degree table, and the oriented-edge frame are each
    consumed 2-3 times downstream, so all three are materialized
    (the kcore pattern): without it, every reuse re-runs the caller's
    full edge-derivation lineage — on the co-purchase graph that is
    a lineitem scan + self-join + distinct repeated up to 8 times
    (observed as a 289-exchange plan with zero ReusedExchange).
    """
    _, counts = _triangle_pass(_canonical_edges(edges, src, dst))
    return counts


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list as canonical ``(a, b)`` with a < b, each
    pair once, self-loops dropped — materialized because the
    triangle pass consumes it three times (degree table, orientation
    join, wedge-closing join) and the caller's edge-derivation lineage
    must not replay per consumer."""
    return materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "graph: canonical edges",
    )


def _triangle_pass(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One degree-oriented triangle enumeration over a canonical edge
    frame (see :func:`_canonical_edges`). Returns the SHARED pair
    ``(deg, counts)`` — ``deg``: (n, d) for every node (checkpointed,
    reused by orientation and by callers like
    :func:`clustering_coefficients` that need degrees for wedge
    counts); ``counts``: (node, n_triangles) for every node in at
    least one triangle. Sharing these frames across query legs is what
    keeps composed transitivity queries at one enumeration instead of
    replaying the pass per leg (the 289-exchange plan this module's
    checkpoint discipline eliminated)."""
    deg = materialize(
        _endpoints(e, "a", "b").groupBy("n").agg(F.count(F.lit(1)).alias("d")),
        "graph.triangle_pass: degrees",
    )
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = materialize(
        ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        ),
        "graph.triangle_pass: oriented edges",
    )
    ov = o.join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    w1 = ov.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    w2 = ov.select("u", F.col("v").alias("z"), F.col("dv").alias("dz"))
    wedge_lt = (F.col("dy") < F.col("dz")) | (
        (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z"))
    )
    tri = (
        w1.join(w2, "u")
        .filter(wedge_lt)
        .join(
            o.select(F.col("u").alias("y"), F.col("v").alias("z")),
            ["y", "z"],
        )
        .select(F.col("u").alias("x"), "y", "z")
    )
    # ONE explode, not a 3-way unionAll of per-corner selects: union
    # branches are independent subtrees, so the whole wedge-join
    # pipeline above would replay once per corner (observed as the tri
    # subtree appearing 3x in the final plan, 25 exchanges where the
    # enumeration itself needs ~8)
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node")
    )
    counts = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    return deg, counts


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global and average-local clustering coefficients in ONE
    degree-oriented triangle pass: (n_nodes, n_triangles, wedges,
    global_coeff, avg_local_coeff) over nodes with degree >= 2.

    The degree table and per-node triangle counts come from the SAME
    :func:`_triangle_pass` frames — the global leg (3T / wedges) and
    the local leg (mean of t / C(d,2)) are two expressions over one
    left join, not two enumerations. Determinism: integer sums for T
    and wedges; local terms round-12 then DECIMAL(38,12) so the mean
    is summation-order-independent.

    100 TB shape: everything downstream of the pass is keyed equi-join
    + one map-side-combined aggregate to a single row; the pass itself
    carries the O(m^1.5) bound with orientation-capped skew.
    """
    deg, counts = _triangle_pass(_canonical_edges(edges, src, dst))
    per_node = (
        deg.filter(F.col("d") >= 2)
        .join(counts.withColumnRenamed("node", "n"), "n", "left")
        .select("d", F.coalesce("n_triangles", F.lit(0)).alias("t"))
    )
    dd = F.col("d").cast("double")
    c_term = F.round(
        F.col("t").cast("double") / (dd * (dd - F.lit(1.0)) / F.lit(2.0)), 12
    ).cast("decimal(38,12)")
    agg = per_node.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("t").cast("long").alias("sum_t"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long"))
        .cast("long")
        .alias("wedges"),
        F.sum(c_term).cast("double").alias("sum_c"),
    )
    return agg.select(
        "n_nodes",
        (F.col("sum_t") / 3).cast("long").alias("n_triangles"),
        "wedges",
        # guard 0/0 -> NULL (graph with no degree>=2 nodes), matching
        # the when(den>0) style used by corr_matrix / spearman
        F.when(
            F.col("wedges") > 0,
            F.round(
                F.col("sum_t").cast("double") / F.col("wedges").cast("double"),
                6,
            ),
        ).alias("global_coeff"),
        F.when(
            F.col("n_nodes") > 0,
            F.round(F.col("sum_c") / F.col("n_nodes").cast("double"), 6),
        ).alias("avg_local_coeff"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    max_iter: int = 12,
    driver_edge_budget: int = 5_000_000,
    checkpoint_every: int = 3,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node with degree < k until fixpoint (Matula & Beck 1983) —
    the cohesion filter that isolates the dense backbone of a graph
    (spam rings, power-user cliques, boilerplate hubs) where a single
    degree cut cannot: removing a weak node can expose its neighbors.

    ``edges`` is an undirected edge list ``(src, dst)``, one row per
    edge (no multi-edges). Returns ``(node, core_degree)`` — the
    surviving nodes of the k-core subgraph with their within-core
    degrees.

    Iterations stop at fixpoint or ``max_iter``, whichever is first;
    because a converged peel is a no-op, stopping early equals running
    the full cap — which is what lets a SQL oracle unroll exactly
    ``max_iter`` rounds and land on the identical answer
    (:func:`kcore_oracle_sql`). Integer-exact throughout.

    100 TB shape: each distributed round is one map-side-combined
    degree count and two semi-joins keyed on node id; the edge frame
    only ever SHRINKS. Rounds are peeled in BATCHES of
    ``checkpoint_every`` between lineage truncations: a batch stacks
    its peels lazily (Catalyst plans them as one multi-stage job), so
    the serial per-round checkpoint+count action chain — the
    dominant constant in the 100x sweep (27x at r9, driven by job
    round-trips, not data) — is paid once per batch instead of once
    per round. A converged peel is a no-op, so testing the fixpoint
    only at batch boundaries (count unchanged across the batch =>
    the batch's first peel was already a no-op) is exact. Once the
    surviving adjacency fits ``driver_edge_budget`` endpoint rows,
    the remaining rounds finish driver-side in one pass instead of
    paying per-round job latency on tiny frames — the same
    budget-gated pattern as dedup's duplicate_clusters union-find;
    the finisher honors the SAME round cap, so results are identical
    on either path (pinned by pytest). Peel depth is the graph's
    degeneracy ladder, not its diameter — small for real graphs."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    adj, n_edges = materialize_counted(
        _symmetrize(edges, "src", "dst"), "graph.kcore: checkpoint adjacency"
    )
    rounds_left = max_iter
    while rounds_left > 0 and n_edges > 0:
        if n_edges <= driver_edge_budget:
            return _kcore_driver_finish(adj, k, rounds_left)
        steps = min(checkpoint_every, rounds_left)
        pruned = adj
        for _ in range(steps):
            keep = (
                pruned.groupBy("u")
                .agg(F.count(F.lit(1)).alias("__d"))
                .filter(F.col("__d") >= k)
                .select("u")
            )
            pruned = pruned.join(keep, "u", "left_semi").join(
                keep.withColumnRenamed("u", "v"), "v", "left_semi"
            )
        pruned, n_pruned = materialize_counted(pruned, "graph.kcore: peel batch")
        rounds_left -= steps
        if n_pruned == n_edges:
            break  # fixpoint: the batch's first peel was already a no-op
        adj, n_edges = pruned, n_pruned
    return adj.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.col("u").alias("node"), "core_degree"
    )


def _kcore_driver_finish(adj: DataFrame, k: int, rounds_left: int) -> DataFrame:
    """Finish the peel on the driver: the adjacency is at most the
    caller's budget (bounded memory), each remaining round is the
    identical delete-all-deg<k step, and the ROUND CAP still applies
    so the capped-unroll oracle equivalence survives the handoff.
    The adjacency arrives through the shared :func:`_fetch_local`."""
    tbl = _fetch_local(adj, "graph.kcore: fetch adjacency")
    nbrs: dict = {}
    for u, v in zip(tbl["u"].to_pylist(), tbl["v"].to_pylist()):
        s = nbrs.get(u)
        if s is None:
            nbrs[u] = {v}
        else:
            s.add(v)
    for _ in range(rounds_left):
        drop = [n for n, s in nbrs.items() if len(s) < k]
        if not drop:
            break
        for n in drop:
            for m in nbrs[n]:
                s = nbrs.get(m)
                if s is not None:
                    s.discard(n)
            del nbrs[n]
    return adj.sparkSession.createDataFrame(
        [(n, len(s)) for n, s in nbrs.items()],
        StructType(
            [
                StructField("node", adj.schema["u"].dataType),
                StructField("core_degree", LongType()),
            ]
        ),
    )


def kcore_oracle_sql(edge_cte: str, k: int, max_iter: int = 12) -> str:
    """DuckDB mirror of :func:`kcore`: the peel loop unrolled exactly
    ``max_iter`` times (converged rounds are no-ops, so capped unroll
    = fixpoint whenever the graph converges within the cap — and when
    it doesn't, the Spark side stops at the same cap). ``edge_cte`` is
    SQL producing the undirected edge list as columns ``(a, b)``."""
    # AS MATERIALIZED is load-bearing: each round references the
    # previous one three times, so an inlining planner would expand the
    # base scan 3^max_iter times (observed as "too many open files")
    parts = [
        f"e AS MATERIALIZED ({edge_cte})",
        "a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e "
        "UNION ALL SELECT b AS u, a AS v FROM e)",
    ]
    for i in range(max_iter):
        parts.append(
            f"k{i} AS MATERIALIZED "
            f"(SELECT u FROM a{i} GROUP BY u HAVING count(*) >= {k})"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT x.u, x.v FROM a{i} x "
            f"JOIN k{i} p ON x.u = p.u JOIN k{i} q ON x.v = q.u)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT u AS node, count(*) AS core_degree "
        f"FROM a{max_iter} GROUP BY u"
    )


def link_prediction_scores(
    edges: DataFrame,
    max_middle_degree: int | None = None,
) -> DataFrame:
    """Neighborhood link-prediction scores (Liben-Nowell & Kleinberg
    2003) for every NON-adjacent node pair with at least one common
    neighbor: common-neighbor count, neighbor Jaccard, and Adamic-Adar
    (sum of 1/ln(deg(m)) over shared neighbors m — rare shared
    neighbors weigh more). The "which products will be co-purchased
    next" / "which accounts are the same actor" primitive.

    ``edges`` is an undirected edge list ``(src, dst)`` with
    ``src < dst``, one row per edge. Output: ``(a, b, cn, jaccard,
    adamic_adar)`` — candidate pairs only (a wedge join generates
    them, so pairs with zero common neighbors never materialize).

    Determinism: cn and the Jaccard numerator/denominator are
    integers; each Adamic-Adar contribution rounds to 12 decimals and
    accumulates in DECIMAL(38,12) (the pagerank discipline), so
    summation order cannot move a bit and a SQL oracle reproduces
    every score.

    100 TB shape: one wedge self-join keyed on the middle node — the
    same shape as triangle counting, quadratic in each middle's
    degree, so ``max_middle_degree`` caps hub middles (a shared
    neighbor of degree 10^6 contributes ~nothing to Adamic-Adar and
    would dominate the join; dropping it biases scores DOWN, the safe
    direction for a shortlist). Degrees broadcast; the anti-join
    against existing edges is key-shuffled on the pair. The edge
    frame is consumed three times (both union branches + the
    anti-join) and the wedge-arm frame twice (self-join), so both are
    materialized — the triangle_counts lesson: without it every
    consumption re-runs the caller's full edge-derivation lineage."""
    edges = materialize(edges.select("src", "dst"), "graph.link_prediction_scores: edges")
    adj = _symmetrize(edges, "src", "dst")
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    mid = deg
    if max_middle_degree is not None:
        if max_middle_degree < 2:
            raise ValueError(
                f"max_middle_degree must be >= 2, got {max_middle_degree}"
            )
        mid = deg.filter(F.col("d") <= max_middle_degree)
    # wedges a - m - b with a < b; middle degree rides along for AA
    am = materialize(
        adj.join(mid.withColumnRenamed("u", "__m"), adj["u"] == F.col("__m")).select(
            F.col("__m").alias("m"), F.col("v").alias("a"), F.col("d").alias("dm")
        ),
        "graph.link_prediction_scores: wedge arms",
    )
    wedge = (
        am.alias("x")
        .join(am.alias("y"), ["m", "dm"])
        .filter(F.col("x.a") < F.col("y.a"))
        .select(
            F.col("x.a").alias("a"), F.col("y.a").alias("b"), "m", "dm"
        )
    )
    cand = wedge.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    aa_term = F.round(F.lit(1.0) / F.log(F.col("dm").cast("double")), 12).cast(
        "decimal(38,12)"
    )
    sc = cand.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(aa_term).cast("double").alias("__aa"),
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("__db"))
    return (
        sc.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round("__aa", 4).alias("adamic_adar"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS hop distances: for every node reachable from
    ``seeds`` within ``max_hops`` undirected hops, the MINIMUM hop
    count. The "blast radius" primitive — recall expansion from a
    contaminated-part list, fraud-ring neighborhoods, related-content
    expansion from a seed set.

    ``edges`` is an undirected edge list ``(src, dst)``; ``seeds`` has
    one column ``node``. Seeds not present in the edge list are
    dropped (they have no neighborhood to expand — and the SQL oracle
    mirrors the same join). Output: ``(node, dist)``, integer-exact.

    100 TB shape: textbook frontier BFS — each round expands ONLY the
    newly-settled frontier (one equi-join keyed on the frontier node),
    then anti-joins against the settled set so a node is expanded at
    most once ever. Work per round is proportional to the frontier's
    edge boundary, not the graph; ``max_hops`` bounds the round count.
    The settled and frontier frames are each consumed by later rounds,
    so both are materialized per round (the triangle_counts
    lesson: an un-checkpointed reuse re-runs the caller's whole
    edge-derivation lineage every round).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    edges = materialize(edges.select("src", "dst"), "graph.bfs_distances: edges")
    adj = _symmetrize(edges, "src", "dst", u="node", v="v")
    nodes = adj.select("node").distinct()
    settled = materialize(
        seeds.select("node")
        .distinct()
        .join(nodes, "node")
        .select("node", F.lit(0).cast("long").alias("dist")),
        "graph.bfs_distances: seeds",
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        grown = materialize(
            frontier.join(adj, "node")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .select("node", F.lit(hop).cast("long").alias("dist")),
            "graph.bfs_distances: frontier",
        )
        if grown.isEmpty():
            break
        settled = materialize(settled.unionAll(grown), "graph.bfs_distances: settled")
        frontier = grown
    return settled


def bfs_oracle_sql(
    edge_cte: str,
    seed_cte: str,
    max_hops: int = 3,
    node_alias: str = "node",
) -> str:
    """DuckDB oracle for :func:`bfs_distances`: ``max_hops`` unrolled
    min-fold rounds (``d_k = min over d_{k-1} UNION neighbors+1`` —
    a settled node's distance is already minimal, so the fold is
    idempotent on it; identical arithmetic, integer-exact).
    ``edge_cte`` must yield (src, dst); ``seed_cte`` one column
    ``node``."""
    parts = [
        f"WITH e AS ({edge_cte}),",
        "adj AS (SELECT src AS node, dst AS v FROM e"
        " UNION ALL SELECT dst, src FROM e),",
        f"seeds AS ({seed_cte}),",
        "d0 AS (SELECT DISTINCT s.node, CAST(0 AS BIGINT) AS dist"
        " FROM seeds s JOIN (SELECT DISTINCT node FROM adj) g USING (node)),",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"d{h} AS (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{h - 1}"
            f" UNION ALL SELECT adj.v, d{h - 1}.dist + 1"
            f" FROM adj JOIN d{h - 1} USING (node)) GROUP BY node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node AS {node_alias}, CAST(dist AS BIGINT) AS dist"
        f" FROM d{max_hops}"
    )
    return "\n".join(parts)


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """SYNCHRONOUS label propagation (Raghavan et al. 2007) for
    community detection: every node starts as its own label; each
    round it adopts the most frequent label among its neighbors (ties
    to the smallest label). Synchronous + deterministic tie-break
    makes the result exactly reproducible — the asynchronous/random
    variants of LPA are famously run-to-run unstable, which is useless
    for an oracle-checked engine, so the fixed-round synchronous form
    is the right re-expression. Returns ``(node, community)`` after
    ``rounds`` rounds (community = a node id).

    100 TB shape: pagerank's size rule — the edge frame is
    checkpointed once with its count; below
    :data:`DRIVER_EDGE_BUDGET` rows it is fetched once and the rounds
    run on the driver. Above the budget, per round, ONE equi-join of
    the adjacency against the |nodes| label frame and two
    map-side-combined aggs — the argmax is a struct-min over
    (-count, label), which orders any label type, NOT a per-node
    window sort. Adjacency and each round's labels are materialized
    (the triangle_counts lesson: reuse without it re-runs the caller's
    edge derivation every round).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    t = _node_type(edges.select("src"), edges.select("dst"))
    local, edges = _local_edges(
        edges.select(F.col("src").cast(t).alias("src"), F.col("dst").cast(t).alias("dst")),
        "label_prop",
    )
    if local is not None:
        node, community = _label_propagation_local(local, rounds)
        return _local_frame(
            edges.sparkSession, {"node": (t, node), "community": (t, community)}
        )
    adj = _symmetrize(edges, "src", "dst", u="node", v="v")
    adj = materialize(adj, "graph.label_propagation: adjacency")
    labels = materialize(
        adj.select("node").distinct().withColumn("lbl", F.col("node")),
        "graph.label_propagation: initial labels",
    )
    for _ in range(rounds):
        cnt = adj.join(
            labels.select(F.col("node").alias("v"), "lbl"), "v"
        ).groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = materialize(
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("lbl"))
                ).alias("m")
            )
            .select("node", F.col("m.lbl").alias("lbl")),
            "graph.label_propagation: round",
        )
    return labels.select("node", F.col("lbl").alias("community"))


def label_propagation_oracle_sql(
    edge_cte: str, rounds: int = 4
) -> str:
    """DuckDB oracle for :func:`label_propagation` — the synchronous
    rounds unrolled, argmax via the identical (c DESC, lbl ASC)
    ordering."""
    parts = [
        f"WITH e AS ({edge_cte}),",
        "adj AS (SELECT src AS node, dst AS v FROM e"
        " UNION ALL SELECT dst, src FROM e),",
        "l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"l{k} AS (SELECT node, lbl FROM ("
            f"SELECT adj.node, l.lbl, count(*) AS c,"
            f" row_number() OVER (PARTITION BY adj.node"
            f" ORDER BY count(*) DESC, l.lbl ASC) AS rn"
            f" FROM adj JOIN l{k - 1} l ON adj.v = l.node"
            f" GROUP BY adj.node, l.lbl) WHERE rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, lbl AS community FROM l{rounds}")
    return "\n".join(parts)


def modularity_report(
    edges: DataFrame, communities: DataFrame, ndigits: int = 9
) -> DataFrame:
    """Newman modularity of a community assignment, one row per
    community: node count, internal edge count, degree sum, and the
    community's contribution e_c/m - (d_c/2m)^2 — the quality metric
    that says whether a partition (label propagation's, or any other
    (node, community) frame) actually beats random edge placement.
    Every input to the contribution is an exact integer count, so the
    two divisions are fixed-shape IEEE ops identical in any engine;
    Q = sum(contrib).

    100 TB shape: degree and community-size aggregations are
    map-side-combined; internal edges are two equi-joins of the edge
    list against the |nodes| community frame; the edge total attaches
    as a one-row broadcast. Reused frames are materialized (the
    triangle_counts lesson)."""
    edges = materialize(edges.select("src", "dst"), "graph.modularity_report: edges")
    comm = materialize(communities, "graph.modularity_report: communities")
    m_row = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        _endpoints(edges, "src", "dst", out="node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        comm.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_sum"),
        )
    )
    cs = comm.select(F.col("node").alias("src"), F.col("community").alias("__cs"))
    cd = comm.select(F.col("node").alias("dst"), F.col("community").alias("__cd"))
    ec = (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("__cs") == F.col("__cd"))
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    out = dc.join(ec, "community", "left").crossJoin(F.broadcast(m_row))
    e = F.coalesce("e_in", F.lit(0)).cast("double")
    half = F.col("d_sum").cast("double") / (F.lit(2.0) * F.col("m").cast("double"))
    return out.select(
        "community",
        "n_nodes",
        F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
        "d_sum",
        F.round(e / F.col("m").cast("double") - half * half, ndigits).alias(
            "contrib"
        ),
    )


def modularity_oracle_sql(edge_cte: str, rounds: int = 4, ndigits: int = 9) -> str:
    """DuckDB oracle for :func:`modularity_report` over a
    label-propagation partition — the unrolled-LPA oracle nested as a
    CTE, then pure integer-count modularity arithmetic."""
    inner = label_propagation_oracle_sql(edge_cte, rounds)
    return f"""
    WITH comm AS ({inner}),
    e2 AS ({edge_cte}),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e2),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2
      ) GROUP BY 1
    ), dc AS (
      SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg.d) AS BIGINT) AS d_sum
      FROM comm c JOIN deg USING (node) GROUP BY 1
    ), ec AS (
      SELECT cs.community, CAST(count(*) AS BIGINT) AS e_in
      FROM e2 JOIN comm cs ON e2.src = cs.node
              JOIN comm cd ON e2.dst = cd.node
      WHERE cs.community = cd.community GROUP BY 1
    )
    SELECT d.community, d.n_nodes,
           CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in, d.d_sum,
           round(CAST(coalesce(ec.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                 - (CAST(d.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                   * (CAST(d.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))),
                 {ndigits}) AS contrib
    FROM dc d LEFT JOIN ec USING (community), m
    """


def degree_assortativity(edges: DataFrame, ndigits: int = 6) -> DataFrame:
    """Newman degree assortativity of an undirected simple graph —
    the one-number structural fingerprint (positive: hubs link hubs,
    social-graph-like; negative: hubs link leaves, web/biology-like)
    that tells a sampling or partitioning strategy what kind of graph
    it is holding. Pearson correlation of end-point degrees over the
    symmetrized edge list, computed WITHOUT materializing the
    symmetrized pairs: for single-direction edges,
    ``Sx_sym = Σ(du+dv)``, ``Sxy_sym = 2·Σ du·dv``,
    ``Sxx_sym = Σ(du²+dv²)``, ``M = 2m``, and
    ``r = (M·Sxy_sym − Sx²) / (M·Sxx_sym − Sx²)``.

    Every sum is an exact DECIMAL(38,0) integer, so the final fixed
    IEEE expression is engine-portable with no rounding machinery; a
    regular graph (zero degree variance) yields NULL by definition.

    100 TB shape: one degree agg (map-side-combined), two equi-joins
    of the edge list against it, ONE moment aggregation. No windows,
    no driver work."""
    dec = "decimal(38,0)"
    edges = materialize(edges.select("src", "dst"), "graph.degree_assortativity: edges")
    deg = materialize(
        _endpoints(edges, "src", "dst", out="node").groupBy("node").agg(
            F.count(F.lit(1)).alias("d")
        ),
        "graph.degree_assortativity: degrees",
    )
    j = edges.join(
        deg.select(F.col("node").alias("src"), F.col("d").alias("du")), "src"
    ).join(
        deg.select(F.col("node").alias("dst"), F.col("d").alias("dv")), "dst"
    )
    a = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum((F.col("du") + F.col("dv")).cast(dec)).alias("sx"),
        F.sum(F.col("du").cast(dec) * F.col("dv").cast(dec)).alias("sxy"),
        F.sum(
            F.col("du").cast(dec) * F.col("du").cast(dec)
            + F.col("dv").cast(dec) * F.col("dv").cast(dec)
        ).alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    num = F.lit(4.0) * md * F.col("sxy").cast("double") - sx * sx
    den = F.lit(2.0) * md * F.col("sxx").cast("double") - sx * sx
    return n_nodes.crossJoin(F.broadcast(a)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.when(den == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(num / den, ndigits))
        .alias("assortativity"),
    )


def assortativity_oracle_sql(edge_cte: str, ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`degree_assortativity` — identical
    decimal moments and the identical left-associated IEEE final
    expression."""
    return f"""
    WITH e AS ({edge_cte}),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      ) GROUP BY 1
    ), j AS (
      SELECT du.d AS du, dv.d AS dv
      FROM e JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(CAST(du + dv AS DECIMAL(38,0))) AS sx,
             sum(CAST(du AS DECIMAL(38,0)) * CAST(dv AS DECIMAL(38,0)))
               AS sxy,
             sum(CAST(du AS DECIMAL(38,0)) * CAST(du AS DECIMAL(38,0))
                 + CAST(dv AS DECIMAL(38,0)) * CAST(dv AS DECIMAL(38,0)))
               AS sxx
      FROM j
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           a.m AS n_edges,
           CASE WHEN 2.0 * CAST(a.m AS DOUBLE) * CAST(a.sxx AS DOUBLE)
                     - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE) = 0.0
                THEN NULL
                ELSE round((4.0 * CAST(a.m AS DOUBLE)
                            * CAST(a.sxy AS DOUBLE)
                            - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE))
                           / (2.0 * CAST(a.m AS DOUBLE)
                              * CAST(a.sxx AS DOUBLE)
                              - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)),
                           {ndigits})
           END AS assortativity
    FROM a
    """


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank: :func:`pagerank` with the teleport (and
    dangling-mass redistribution) concentrated on a seed set instead
    of uniform — the graph-retrieval primitive (seed = a query's
    entities / a user's items; scores = the neighborhood that matters
    TO THOSE SEEDS, not globally). ``seeds`` must be a (node) frame;
    seeds outside the graph still receive teleport mass (standard
    definition). Per iteration:
    seed:     pr' = (1-d)/|S| + d*(inc + D/|S|)
    non-seed: pr' = d*inc
    with pr rounded to 12 per iteration (the pagerank oracle
    contract). Output: ``(node, pr)``.

    100 TB shape: pagerank's size rule, applied to the edge rows and
    the seed rows checkpointed together as one frame (so the seeds are
    sized and fetched with the edges, not by a job of their own).
    Below :data:`DRIVER_EDGE_BUDGET` rows the loop runs on the
    driver; above it, pagerank's distributed shape — node-keyed joins,
    map-side decimal contribution sums, one-row broadcasts for |S| and
    the dangling mass, reused frames materialized once, nothing
    collected to the driver."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")

    t = _node_type(edges.select("src"), edges.select("dst"), seeds.select("node"))
    w_t = edges.schema["w"].dataType
    both = edges.select(
        F.col("src").cast(t).alias("src"),
        F.col("dst").cast(t).alias("dst"),
        "w",
        F.lit(False).alias("__seed"),
    ).unionByName(
        seeds.select(
            F.col("node").cast(t).alias("src"),
            F.lit(None).cast(t).alias("dst"),
            F.lit(None).cast(w_t).alias("w"),
            F.lit(True).alias("__seed"),
        )
    )
    local, both = _local_edges(both, "ppr")
    if local is not None:
        is_seed = local["__seed"].to_numpy()
        node, pr = _ranks_local(
            local.filter(pa.array(~is_seed)),
            damping,
            iterations,
            local["src"].filter(pa.array(is_seed)),
        )
        return _local_frame(
            both.sparkSession, {"node": (t, node), "pr": (DoubleType(), pr)}
        )
    edges = both.filter(~F.col("__seed")).select("src", "dst", "w")
    seeds = materialize(
        both.filter(F.col("__seed")).select(F.col("src").alias("node")).distinct()
    )
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .union(seeds.select("node"))
        .distinct()
    )
    scnt = seeds.agg(F.count(F.lit(1)).alias("__s"))
    outw = materialize(edges.groupBy("src").agg(F.sum("w").alias("ow")))
    flagged = materialize(
        nodes.join(seeds.withColumn("__is_seed", F.lit(1)), "node", "left")
    )
    pr = flagged.crossJoin(F.broadcast(scnt)).select(
        "node",
        F.when(
            F.col("__is_seed") == 1,
            F.round(F.lit(1.0) / F.col("__s"), 12),
        )
        .otherwise(F.lit(0.0))
        .alias("pr"),
    )
    base = 1.0 - damping
    for _ in range(iterations):
        pr = materialize(pr)
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") * F.col("w") / F.col("ow"), 15)
                .cast("decimal(38,15)")
                .alias("__c"),
            )
        )
        incoming = contrib.groupBy("node").agg(
            F.sum("__c").cast("double").alias("__i")
        )
        dangling = pr.join(
            outw, pr["node"] == outw["src"], "left_anti"
        ).agg(
            F.sum(F.col("pr").cast("decimal(38,12)"))
            .cast("double")
            .alias("__d")
        )
        pr = (
            flagged.join(incoming, "node", "left")
            .crossJoin(F.broadcast(scnt))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.when(
                    F.col("__is_seed") == 1,
                    F.round(
                        F.lit(base) / F.col("__s")
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__i"), F.lit(0.0))
                            + F.coalesce(F.col("__d"), F.lit(0.0))
                            / F.col("__s")
                        ),
                        12,
                    ),
                )
                .otherwise(
                    F.round(
                        F.lit(damping)
                        * F.coalesce(F.col("__i"), F.lit(0.0)),
                        12,
                    )
                )
                .alias("pr"),
            )
        )
    return pr


def ppr_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    damping: float = 0.85,
    iterations: int = 3,
) -> str:
    """DuckDB oracle for :func:`personalized_pagerank` — pagerank's
    unrolled CTEs with the seed-conditional base term. ``seeds_sql``
    must yield a (node) column."""
    base = 1.0 - damping
    parts = [
        f"WITH edges AS ({edges_sql})",
        f"seeds AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges UNION SELECT node FROM seeds)",
        "sc AS (SELECT count(*) AS s FROM seeds)",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)",
        """it0 AS (
      SELECT n.node,
             CASE WHEN sd.node IS NOT NULL
                  THEN round(CAST(1.0 AS DOUBLE) / sc.s, 12)
                  ELSE 0.0 END AS pr
      FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node CROSS JOIN sc
    )""",
    ]
    for i in range(iterations):
        prev, cur = f"it{i}", f"it{i + 1}"
        parts.append(
            f"""inc{i} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(round(p.pr * e.w / o.ow, 15) AS DECIMAL(38,15)))
                  AS DOUBLE) AS s
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN outw o ON o.src = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""dang{i} AS (
      SELECT coalesce(CAST(sum(CAST(p.pr AS DECIMAL(38,12))) AS DOUBLE), 0.0)
               AS d
      FROM {prev} p LEFT JOIN outw o ON o.src = p.node
      WHERE o.src IS NULL
    )"""
        )
        parts.append(
            f"""{cur} AS (
      SELECT n.node,
             CASE WHEN sd.node IS NOT NULL
                  THEN round(CAST({base!r} AS DOUBLE) / sc.s
                             + CAST({damping!r} AS DOUBLE)
                               * (coalesce(i.s, 0.0) + g.d / sc.s), 12)
                  ELSE round(CAST({damping!r} AS DOUBLE)
                             * coalesce(i.s, 0.0), 12)
             END AS pr
      FROM nodes n
      LEFT JOIN seeds sd ON sd.node = n.node
      LEFT JOIN inc{i} i ON i.node = n.node
      CROSS JOIN sc CROSS JOIN dang{i} g
    )"""
        )
    body = ",\n    ".join(parts[1:])
    return f"{parts[0]},\n    {body}\n    SELECT node, pr FROM it{iterations}"


def hits(
    edges: DataFrame,
    iterations: int = 4,
    hub_col: str = "hub",
    auth_col: str = "auth",
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED (typically bipartite)
    edge list, run for a fixed iteration count — the mutual-
    reinforcement centrality next to :func:`pagerank`'s random-walk
    one: an authority is pointed at by good hubs, a hub points at good
    authorities (customers who buy consensus parts vs parts bought by
    discerning customers; crawlers ranking pages vs hub sites).

    Per iteration: ``a(v) = Σ_{(u,v)} h(u)`` then L1-normalize, then
    ``h(u) = Σ_{(u,v)} a(v)`` then L1-normalize. Determinism follows
    the pagerank contract: scores round to 12 decimals each update,
    contributions accumulate as DECIMAL(38,12) so summation order
    cannot move a bit, and L1 (sum) normalization keeps everything in
    +/round-friendly arithmetic (an L2 norm would put a cross-engine
    sqrt inside the loop).

    Output: ``(node, role, score)`` — one row per hub and per
    authority, roles "hub" / "authority".

    100 TB shape: pagerank's size rule over the (hub, auth) rows —
    checkpointed once with their count; below
    :data:`DRIVER_EDGE_BUDGET` rows fetched once, deduplicated and
    iterated on the driver. Above the budget each update is one equi-join of the edge
    list with the |nodes| score frame plus a map-side-combined
    groupBy; the normalizer is a one-row broadcast; the raw score
    frames are materialized per iteration (the pagerank lineage
    lesson), and nothing collects to the driver.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    # hubs and authorities share the output's node column: cast both
    # to the type the final union resolves to (a no-op when they agree)
    t = _node_type(edges.select(hub_col), edges.select(auth_col))
    local, e = _local_edges(
        edges.select(
            F.col(hub_col).cast(t).alias("hub"), F.col(auth_col).cast(t).alias("auth")
        ),
        "hits",
    )
    if local is not None:
        hub, h, auth, a = _hits_local(local, iterations)
        return _local_frame(
            e.sparkSession,
            {
                "node": (t, pa.concat_arrays([hub, auth])),
                "role": (StringType(), ["hub"] * len(hub) + ["authority"] * len(auth)),
                "score": (DoubleType(), np.concatenate([h, a])),
            },
        )
    e = materialize(e.distinct())
    dec = "decimal(38,12)"
    h = materialize(
        e.select("hub").distinct().select("hub", F.lit(1.0).alias("h"))
    )
    a = None
    for _ in range(iterations):
        # materialize the RAW contribution frame, not the normalized
        # scores: ``araw``/``hraw`` are each referenced twice (by the
        # normalizer subquery and by the score projection), and
        # Catalyst emits no ReusedExchange across the two references —
        # unmaterialized, every half-iteration paid the edge join +
        # aggregate TWICE (r14 measurement). The normalized frames are
        # a cheap projection over the checkpoint, so they stay lazy.
        araw = materialize(
            e.join(h, "hub")
            .groupBy("auth")
            .agg(F.sum(F.col("h").cast(dec)).alias("__ar"))
        )
        asum = araw.agg(F.sum("__ar").cast("double").alias("__as"))
        a = araw.crossJoin(F.broadcast(asum)).select(
            "auth",
            F.round(F.col("__ar").cast("double") / F.col("__as"), 12)
            .alias("a"),
        )
        hraw = materialize(
            e.join(a, "auth")
            .groupBy("hub")
            .agg(F.sum(F.col("a").cast(dec)).alias("__hr"))
        )
        hsum = hraw.agg(F.sum("__hr").cast("double").alias("__hs"))
        h = hraw.crossJoin(F.broadcast(hsum)).select(
            "hub",
            F.round(F.col("__hr").cast("double") / F.col("__hs"), 12)
            .alias("h"),
        )
    hubs = h.select(
        F.col("hub").alias("node"), F.lit("hub").alias("role"),
        F.col("h").alias("score"),
    )
    auths = a.select(
        F.col("auth").alias("node"), F.lit("authority").alias("role"),
        F.col("a").alias("score"),
    )
    return hubs.unionByName(auths)


def hits_oracle_sql(edges_sql: str, iterations: int = 4) -> str:
    """DuckDB SQL reproducing :func:`hits` exactly — unrolled CTEs
    with the identical round-12 / DECIMAL(38,12) / L1 ladder.
    ``edges_sql`` must yield columns (hub, auth).

    Every per-iteration CTE is MATERIALIZED: each level is referenced
    twice (once by the normalizer subquery, once by the next update),
    so DuckDB's default inlining would expand the plan 4^iterations
    times — measured as minutes at 3 iterations vs 0.6 s at 2."""
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT hub, auth"
        f" FROM ({edges_sql}))",
        "h0 AS MATERIALIZED (SELECT DISTINCT hub, CAST(1.0 AS DOUBLE) AS h"
        " FROM edges)",
    ]
    for i in range(iterations):
        hp, hn = f"h{i}", f"h{i + 1}"
        parts.append(
            f"""ar{i} AS MATERIALIZED (
      SELECT e.auth, sum(CAST(p.h AS DECIMAL(38,12))) AS ar
      FROM edges e JOIN {hp} p ON p.hub = e.hub GROUP BY e.auth
    )"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
      SELECT auth,
             round(CAST(ar AS DOUBLE)
                   / (SELECT CAST(sum(ar) AS DOUBLE) FROM ar{i}), 12) AS a
      FROM ar{i}
    )"""
        )
        parts.append(
            f"""hr{i} AS MATERIALIZED (
      SELECT e.hub, sum(CAST(q.a AS DECIMAL(38,12))) AS hr
      FROM edges e JOIN a{i} q ON q.auth = e.auth GROUP BY e.hub
    )"""
        )
        parts.append(
            f"""{hn} AS MATERIALIZED (
      SELECT hub,
             round(CAST(hr AS DOUBLE)
                   / (SELECT CAST(sum(hr) AS DOUBLE) FROM hr{i}), 12) AS h
      FROM hr{i}
    )"""
        )
    last = iterations - 1
    body = ",\n    ".join(parts[1:])
    return (
        f"{parts[0]},\n    {body}\n    "
        f"SELECT hub AS node, 'hub' AS role, h AS score FROM h{iterations}\n"
        f"    UNION ALL\n"
        f"    SELECT auth AS node, 'authority' AS role, a AS score"
        f" FROM a{last}"
    )


def negative_edge_samples(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ndigits: int = 6,
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training
    data, with a per-label common-neighbor feature summary — the
    contrastive-pairs generator on the graph side (the counterpart of
    similarity.hard_negatives for embeddings): every positive edge
    (u, v) is corrupted to the candidate negative (u, succ(v)) where
    ``succ`` is the next node in id order (wrapping) — the standard
    corrupt-the-tail scheme made reproducible (no RNG), linear (no
    candidate cross join), and oracle-checkable. Corruptions that
    collide with a real edge or a self-loop are dropped (the usual
    filtered-negative protocol).

    Output: one row per label — ``(label, n_pairs, n_with_cn,
    avg_cn)`` where cn is the common-neighbor count, the
    link-prediction feature whose separation between label 1 and
    label 0 is exactly what a downstream ranker learns.

    100 TB shape: node ranks come from a distributed range-prefix
    (no global window); succ is an equi-join on rank+1; negatives are
    one anti-join on the canonical pair; the CN feature is two
    adjacency equi-joins per pair set. Lineage-share discipline (the
    pattern that took graph_triangles 25->9 exchanges in r11): the
    canonical edge frame is eagerly checkpointed (consumed four
    times), the pair and adjacency frames lazily checkpointed
    (consumed twice each), and the per-pair CN counts reduce straight
    to the per-label grain — the final summary joins two
    rows-per-label aggregate frames instead of left-joining the CN
    counts back onto the corpus-sized pair frame (which replayed the
    succ/anti-join lineage a third time). r11 plan: 21 exchanges —
    the suite's highest; the shared-lineage shape lands at 14 in the
    pre-execution explain (the lazy checkpoints keep their lineage
    visible until first use) and is pinned at <=16 in
    tests/test_verbs_plans.py.
    """
    from pydala2_spark.functions.skew import distributed_prefix

    e = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "graph.negative_edge_samples: edges",
    )
    nodes = _endpoints(e, "a", "b", out="node").distinct()
    ranked = distributed_prefix(nodes, ["node"], rank_col="r")
    ranked = materialize(ranked, "graph.negative_edge_samples: ranks")
    nv = ranked.agg(F.count(F.lit(1)).alias("__nv"))
    succ = (
        ranked.crossJoin(F.broadcast(nv))
        .select(
            "node",
            (F.pmod(F.col("r"), F.col("__nv")) + 1).alias("__rn"),
        )
        .join(
            ranked.select(F.col("node").alias("succ"), F.col("r").alias("__rn")),
            "__rn",
        )
        .select("node", "succ")
    )
    neg = (
        e.join(succ.withColumnRenamed("node", "b"), "b")
        .select(
            F.least(F.col("a"), F.col("succ")).alias("a"),
            F.greatest(F.col("a"), F.col("succ")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .join(e, ["a", "b"], "left_anti")
    )
    pairs = materialize(
        e.select("a", "b", F.lit(1).alias("label")).unionByName(
            neg.select("a", "b", F.lit(0).alias("label"))
        )
    )
    adj = materialize(_symmetrize(e, "a", "b"))
    cn = (
        pairs.join(adj.select(F.col("u").alias("a"), F.col("v").alias("m")), "a")
        .join(adj.select(F.col("u").alias("b"), F.col("v").alias("m")), ["b", "m"])
        .groupBy("a", "b", "label")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    # pairs absent from cn have cn = 0, so they contribute nothing to
    # n_with_cn or the cn sum — reduce cn straight to the label grain
    # and join the two per-label aggregate frames (2 rows each)
    # instead of left-joining cn back onto the corpus-sized pair frame
    counts = pairs.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    cn_agg = cn.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("__n_with_cn"),
        F.sum(F.col("cn").cast("decimal(38,0)")).alias("__sum_cn"),
    )
    return (
        counts.join(cn_agg, "label", "left")
        .select(
            "label",
            "n_pairs",
            F.coalesce(F.col("__n_with_cn"), F.lit(0).cast("long")).alias(
                "n_with_cn"
            ),
            F.round(
                F.coalesce(
                    F.col("__sum_cn"), F.lit(0).cast("decimal(38,0)")
                ).cast("double")
                / F.col("n_pairs"),
                ndigits,
            ).alias("avg_cn"),
        )
        .select("label", "n_pairs", "n_with_cn", "avg_cn")
    )


def negative_samples_oracle_sql(edges_sql: str, ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`negative_edge_samples` — identical
    canonical edges, rank/successor corruption, filtered anti-join,
    and common-neighbor summary. ``edges_sql`` must yield (src, dst).
    CTEs referenced more than once are MATERIALIZED (the hits oracle
    lesson)."""
    return f"""
    WITH raw AS ({edges_sql}),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ), nodes AS (
      SELECT a AS node FROM e UNION SELECT b FROM e
    ), ranked AS MATERIALIZED (
      SELECT node, row_number() OVER (ORDER BY node) AS r FROM nodes
    ), succ AS MATERIALIZED (
      SELECT x.node, y.node AS succ
      FROM ranked x
      JOIN ranked y
        ON y.r = (x.r % (SELECT count(*) FROM ranked)) + 1
    ), neg AS MATERIALIZED (
      SELECT DISTINCT p.a, p.b
      FROM (
        SELECT least(e.a, s.succ) AS a, greatest(e.a, s.succ) AS b
        FROM e JOIN succ s ON s.node = e.b
      ) p
      WHERE p.a <> p.b
        AND NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b)
    ), pairs AS MATERIALIZED (
      SELECT a, b, 1 AS label FROM e
      UNION ALL
      SELECT a, b, 0 AS label FROM neg
    ), adj AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ), cn AS MATERIALIZED (
      SELECT p.a, p.b, p.label, count(*) AS cn
      FROM pairs p
      JOIN adj x ON x.u = p.a
      JOIN adj y ON y.u = p.b AND y.v = x.v
      GROUP BY p.a, p.b, p.label
    ), feat AS (
      SELECT p.label, coalesce(c.cn, 0) AS cn
      FROM pairs p
      LEFT JOIN cn c ON c.a = p.a AND c.b = p.b AND c.label = p.label
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(CASE WHEN cn > 0 THEN 1 END) AS BIGINT) AS n_with_cn,
           round(CAST(sum(CAST(cn AS DECIMAL(38,0))) AS DOUBLE) / count(*),
                 {ndigits}) AS avg_cn
    FROM feat GROUP BY label
    """


def degree_powerlaw(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    dmin: int = 2,
    ndigits: int = 4,
) -> DataFrame:
    """Degree distribution summary with the power-law tail exponent —
    the one-number answer to "is this graph scale-free, and how heavy
    is the hub tail" that decides whether hub-capping / salting is
    needed before the quadratic graph ops run. Uses the Clauset-
    Shalizi-Newman discrete MLE approximation
    ``alpha = 1 + n_tail / Σ ln(d / (dmin - 0.5))`` over degrees
    >= dmin.

    One row out: ``(n_nodes, n_tail, dmin, alpha, max_degree,
    mean_degree)``. Determinism: ln terms round-12 then accumulate as
    DECIMAL(38,12) (pagerank discipline); the final division is one
    double expression.

    100 TB shape: degrees come from one map-side-combined groupBy of
    the canonical edge list; everything after runs on the |nodes|
    frame in a single aggregate.
    """
    if dmin < 1:
        raise ValueError(f"dmin must be >= 1, got {dmin}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        _endpoints(e, "a", "b")
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dd = F.col("d").cast("double")
    term = F.when(
        F.col("d") >= dmin,
        F.round(F.log(dd / F.lit(dmin - 0.5)), 12).cast("decimal(38,12)"),
    )
    s = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.count(F.when(F.col("d") >= dmin, F.lit(1)))
        .cast("long")
        .alias("n_tail"),
        F.sum(term).cast("double").alias("__lnsum"),
        F.max("d").cast("long").alias("max_degree"),
        F.round(
            F.sum(F.col("d").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)),
            ndigits,
        ).alias("mean_degree"),
    )
    return s.select(
        "n_nodes",
        "n_tail",
        F.lit(dmin).alias("dmin"),
        F.round(
            F.when(
                F.col("__lnsum") > 0,
                F.lit(1.0)
                + F.col("n_tail").cast("double") / F.col("__lnsum"),
            ),
            ndigits,
        ).alias("alpha"),
        "max_degree",
        "mean_degree",
    )


def degree_powerlaw_oracle_sql(
    edges_sql: str, dmin: int = 2, ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`degree_powerlaw` — identical canonical
    degrees and round-12 decimal ln ladder."""
    return f"""
    WITH raw AS ({edges_sql}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ), deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM e UNION ALL SELECT b FROM e
      ) GROUP BY n
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(count(CASE WHEN d >= {dmin} THEN 1 END) AS BIGINT)
               AS n_tail,
             CAST(sum(CASE WHEN d >= {dmin} THEN CAST(round(
                 ln(CAST(d AS DOUBLE) / {dmin - 0.5!r}), 12)
                 AS DECIMAL(38,12)) END) AS DOUBLE) AS lnsum,
             CAST(max(d) AS BIGINT) AS max_degree,
             round(CAST(sum(CAST(d AS DECIMAL(38,0))) AS DOUBLE)
                   / count(*), {ndigits}) AS mean_degree
      FROM deg
    )
    SELECT n_nodes, n_tail, {dmin} AS dmin,
           round(CASE WHEN lnsum > 0
                      THEN 1.0 + CAST(n_tail AS DOUBLE) / lnsum END,
                 {ndigits}) AS alpha,
           max_degree, mean_degree
    FROM s
    """



def rich_club(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    thresholds: tuple = (2, 4, 8, 16),
    ndigits: int = 6,
) -> DataFrame:
    """Rich-club coefficient (Colizza et al. 2006): for each degree
    threshold k, the density ``phi(k) = 2 * E_k / (N_k * (N_k - 1))``
    of the subgraph induced by nodes with degree > k — do the
    well-connected connect to EACH OTHER? The hub-structure readout
    behind assortativity's single number: a rising phi(k) says the
    core is a clique-ish club (one hot partition at shuffle time, one
    failure domain), a flat phi says hubs spread.

    Output: one row per threshold ``(k, n_nodes, n_edges, phi)``;
    phi is NULL when fewer than 2 nodes clear the threshold. Exact
    integers with one final division.

    100 TB shape: ONE degree aggregation, one edge-to-degree equi-join
    (both endpoints), then a single conditional aggregate over the
    LITERAL threshold set — no per-k passes, no subgraph
    materialization."""
    e = _canonical_edges(edges, src, dst)
    deg = materialize(
        _endpoints(e, "a", "b").groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    edge_aggs = [
        F.count(
            F.when((F.col("da") > k) & (F.col("db") > k), F.lit(1))
        ).cast("long").alias(f"e_{k}")
        for k in thresholds
    ]
    node_aggs = [
        F.count(F.when(F.col("d") > k, F.lit(1))).cast("long").alias(f"n_{k}")
        for k in thresholds
    ]
    erow = ed.agg(*edge_aggs)
    nrow = deg.agg(*node_aggs)
    j = erow.crossJoin(F.broadcast(nrow))
    arms = []
    for k in thresholds:
        nk = F.col(f"n_{k}").cast("double")
        arms.append(
            F.struct(
                F.lit(int(k)).alias("k"),
                F.col(f"n_{k}").alias("n_nodes"),
                F.col(f"e_{k}").alias("n_edges"),
                F.round(
                    F.when(
                        F.col(f"n_{k}") >= 2,
                        F.lit(2.0)
                        * F.col(f"e_{k}").cast("double")
                        / (nk * (nk - F.lit(1.0))),
                    ),
                    ndigits,
                ).alias("phi"),
            )
        )
    return j.select(F.explode(F.array(*arms)).alias("r")).select("r.*")


def rich_club_oracle_sql(
    edges_sql: str,
    thresholds: tuple = (2, 4, 8, 16),
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`rich_club`. ``edges_sql`` must yield the
    canonical (a, b) undirected edge list, a < b, one row per edge."""
    arms = []
    for k in thresholds:
        arms.append(f"""
    SELECT {int(k)} AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > {k})
             AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM ed
            WHERE da > {k} AND db > {k}) AS n_edges,
           round(CASE WHEN (SELECT count(*) FROM deg WHERE d > {k}) >= 2
                 THEN 2.0 * (SELECT CAST(count(*) AS DOUBLE) FROM ed
                             WHERE da > {k} AND db > {k})
                      / ((SELECT CAST(count(*) AS DOUBLE) FROM deg
                          WHERE d > {k})
                         * ((SELECT CAST(count(*) AS DOUBLE) FROM deg
                             WHERE d > {k}) - 1.0))
                 END, {ndigits}) AS phi""")
    return f"""
    WITH e AS ({edges_sql}),
    deg AS (
      SELECT n, count(*) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
      GROUP BY n
    ), ed AS (
      SELECT e.a, e.b, da.d AS da, db.d AS db
      FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
    )
    {" UNION ALL ".join(arms)}
    """
