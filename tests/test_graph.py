"""PageRank + transition-edge contracts: known closed forms, mass
conservation, dangling redistribution, determinism, and plan shape;
the graph loops' driver path against their distributed path."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pydala2_spark.operators.graph import pagerank, transition_edges


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_pagerank_uniform_on_symmetric_cycle(spark):
    """A ring a→b→c→a is perfectly symmetric: every node holds exactly
    1/3 at every iteration."""
    e = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    got = {r["node"]: r["pr"] for r in pagerank(e, iterations=4).collect()}
    third = round(1.0 / 3.0, 12)
    assert got == {"a": third, "b": third, "c": third}


def test_pagerank_mass_conserved_and_sink_absorbs(spark):
    """Total rank stays ~1 (dangling mass redistributes, not lost),
    and a pure sink outranks its feeders."""
    # star into a sink: a,b,c all point at d; d has no out-edges
    e = _edges(spark, [("a", "d", 1), ("b", "d", 1), ("c", "d", 1)])
    got = {r["node"]: r["pr"] for r in pagerank(e, iterations=3).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["d"] > got["a"] == got["b"] == got["c"]


def test_pagerank_weights_matter(spark):
    """Out-weight splits proportionally: a 9:1 edge split sends 9x the
    contribution to the heavy destination."""
    e = _edges(
        spark,
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
    )
    got = {r["node"]: r["pr"] for r in pagerank(e, iterations=1).collect()}
    # after one iteration from uniform 1/3: b gets 0.15/3 + .85*(1/3)*0.9
    assert got["b"] == round(0.15 / 3 + 0.85 * (1.0 / 3.0) * 0.9, 12)
    assert got["c"] == round(0.15 / 3 + 0.85 * (1.0 / 3.0) * 0.1, 12)
    assert got["b"] > got["c"]

    with pytest.raises(ValueError, match="iterations"):
        pagerank(e, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.5)


def test_transition_edges_order_and_weights(spark):
    """Edges follow (ts, event_id) order per user; last event emits no
    edge; repeated transitions accumulate weight; one window shuffle."""
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    rows = [
        (1, t(0), 1, "view"),
        (2, t(1), 1, "click"),
        (3, t(2), 1, "view"),
        (4, t(3), 1, "click"),      # view->click x2, click->view x1
        (5, t(0), 2, "signup"),     # same ts tie for user 2:
        (6, t(0), 2, "purchase"),   # id order => signup->purchase
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r["src"], r["dst"]): r["w"] for r in transition_edges(df).collect()}
    assert got == {
        ("view", "click"): 2,
        ("click", "view"): 1,
        ("signup", "purchase"): 1,
    }

    plan = transition_edges(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2  # window + count agg
    assert "Join" not in plan


def test_triangle_counts_exact_and_oriented_once(spark):
    """Hand-checkable graph: K4 on {1,2,3,4} (4 triangles, each node
    in 3) plus a pendant edge 4-5 (no new triangle) plus a disjoint
    triangle {6,7,8}. Duplicate/reversed input edges must not double-
    count."""
    from pydala2_spark.operators.graph import triangle_counts

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5),                                          # pendant
        (6, 7), (7, 8), (8, 6),                          # triangle
        (2, 1), (3, 2),                                  # dup/reversed
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}
    # total triangles = sum/3 = 5 (4 in K4 + 1 disjoint)
    assert sum(got.values()) // 3 == 5


def test_kcore_matches_bruteforce_peel(spark):
    """kcore() vs an in-Python peel on a random-ish deterministic
    graph, for several k: same surviving nodes and within-core
    degrees; plus the fixpoint-vs-capped-unroll equivalence (running
    far past convergence changes nothing)."""
    import collections

    from pydala2_spark.operators.graph import kcore

    # deterministic pseudo-random graph: 60 nodes, edge iff hash cond
    edges_py = [
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if (a * 7919 + b * 104729) % 17 < 2
    ]
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    for k in (2, 3, 4):
        adj = collections.defaultdict(set)
        for a, b in edges_py:
            adj[a].add(b)
            adj[b].add(a)
        while True:
            drop = [n for n, s in adj.items() if len(s) < k]
            if not drop:
                break
            for n in drop:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
        expect = sorted((n, len(s)) for n, s in adj.items())
        got = sorted(
            (r["node"], r["core_degree"])
            for r in kcore(edges, k=k, max_iter=30).collect()
        )
        assert got == expect, f"k={k}"
    # capped equals converged: max_iter far past fixpoint is a no-op
    a = sorted(map(tuple, kcore(edges, k=3, max_iter=5).collect()))
    b = sorted(map(tuple, kcore(edges, k=3, max_iter=25).collect()))
    assert a == b
    # the driver-side finisher (default budget) and the pure
    # distributed path (budget 0) must agree exactly, including under
    # a binding round cap (max_iter=2 stops both mid-peel)
    for mi in (2, 25):
        d = sorted(
            map(tuple, kcore(edges, k=3, max_iter=mi).collect())
        )
        dist = sorted(
            map(
                tuple,
                kcore(edges, k=3, max_iter=mi, driver_edge_budget=0).collect(),
            )
        )
        assert d == dist, f"max_iter={mi}"


def test_kcore_empty_and_guards(spark):
    from pydala2_spark.operators.graph import kcore

    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2).count() == 0
    # a triangle is a 2-core but not a 3-core
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert kcore(tri, k=2).count() == 3
    assert kcore(tri, k=3).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        kcore(tri, k=0)


def test_link_prediction_scores_bruteforce(spark):
    """CN / Jaccard / Adamic-Adar vs an in-Python brute force over all
    non-adjacent pairs with >= 1 common neighbor; pairs without common
    neighbors and existing edges never appear; middle-degree cap drops
    hub-mediated wedges only."""
    import math

    from pydala2_spark.operators.graph import link_prediction_scores

    edges_py = [
        (a, b)
        for a in range(25)
        for b in range(a + 1, 25)
        if (a * 31 + b * 17) % 7 == 0
    ]
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    nbrs = {}
    for a, b in edges_py:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    eset = set(edges_py)
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in eset:
                continue
            common = nbrs[a] & nbrs[b]
            if not common:
                continue
            cn = len(common)
            jac = round(cn / (len(nbrs[a]) + len(nbrs[b]) - cn), 6)
            aa = round(
                sum(round(1.0 / math.log(len(nbrs[m])), 12) for m in common), 4
            )
            want[(a, b)] = (cn, jac, aa)
    got = {
        (r["a"], r["b"]): (r["cn"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction_scores(edges).collect()
    }
    assert got == want

    # cap: only wedges through middles of degree <= cap survive
    capped = {
        (r["a"], r["b"]): r["cn"]
        for r in link_prediction_scores(edges, max_middle_degree=2).collect()
    }
    want_capped = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in eset:
                continue
            cn = sum(1 for m in nbrs[a] & nbrs[b] if len(nbrs[m]) <= 2)
            if cn:
                want_capped[(a, b)] = cn
    assert capped == want_capped

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_middle_degree"):
        link_prediction_scores(edges, max_middle_degree=1)


def test_bfs_distances_matches_bruteforce(spark):
    """bfs_distances() vs an in-Python BFS on a deterministic graph:
    same (node, dist) map at several hop bounds; seeds absent from the
    edge list are dropped; unreachable nodes never appear."""
    import collections

    from pydala2_spark.operators.graph import bfs_distances

    edges_py = [
        (a, b)
        for a in range(40)
        for b in range(a + 1, 40)
        if (a * 7919 + b * 104729) % 23 < 2
    ]
    adj = collections.defaultdict(set)
    for a, b in edges_py:
        adj[a].add(b)
        adj[b].add(a)
    seeds_py = [0, 5, 999]  # 999 is not in the graph
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seeds_py], "node long")
    for hops in (0, 1, 2, 3):
        want = {}
        frontier = [s for s in seeds_py if s in adj]
        for s in frontier:
            want[s] = 0
        for d in range(1, hops + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in want:
                        want[v] = d
                        nxt.append(v)
            frontier = nxt
        got = {
            r["node"]: r["dist"]
            for r in bfs_distances(edges, seeds, max_hops=hops).collect()
        }
        assert got == want, f"hops={hops}"


def test_bfs_distances_early_exit_and_guards(spark):
    """An exhausted frontier stops the loop early (a 2-node component
    explored with max_hops=5 returns the same as max_hops=1), and a
    negative hop bound raises."""
    import pytest

    from pydala2_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    a = sorted(
        tuple(r) for r in bfs_distances(edges, seeds, max_hops=1).collect()
    )
    b = sorted(
        tuple(r) for r in bfs_distances(edges, seeds, max_hops=5).collect()
    )
    assert a == b == [(1, 0), (2, 1)]
    with pytest.raises(ValueError):
        bfs_distances(edges, seeds, max_hops=-1)


def test_label_propagation_matches_bruteforce(spark):
    """Synchronous LPA vs an in-Python replay (same tie-break) on a
    deterministic graph; two planted cliques joined by one bridge
    resolve to two communities; guard refuses rounds < 1."""
    import collections

    import pytest

    from pydala2_spark.operators.graph import label_propagation

    # two 5-cliques {0..4} and {10..14} plus bridge (4, 10)
    edges_py = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
        + [(4, 10)]
    )
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    adj = collections.defaultdict(list)
    for a, b in edges_py:
        adj[a].append(b)
        adj[b].append(a)
    for rounds in (1, 2, 4):
        lbl = {n: n for n in adj}
        for _ in range(rounds):
            nxt = {}
            for n in adj:
                cnt = collections.Counter(lbl[v] for v in adj[n])
                nxt[n] = min(
                    cnt, key=lambda l: (-cnt[l], l)
                )
            lbl = nxt
        got = {
            r["node"]: r["community"]
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == lbl, f"rounds={rounds}"
    # planted structure: after 4 rounds each clique is one community
    final = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert len({final[n] for n in range(5)}) == 1
    assert len({final[n] for n in range(10, 15)}) == 1
    with pytest.raises(ValueError):
        label_propagation(edges, rounds=0)


def test_modularity_planted_cliques(spark):
    """Modularity vs hand math on two 4-cliques joined by one bridge:
    LPA recovers the cliques; each community's contribution is
    e_c/m - (d_c/2m)^2 with exact integer counts, and Q for this
    layout is well above the random-graph 0 line."""
    from pydala2_spark.operators.graph import (
        label_propagation,
        modularity_report,
    )

    a = [1, 2, 3, 4]
    b = [5, 6, 7, 8]
    edges = [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
    edges += [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
    edges += [(4, 5)]  # the bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    comm = label_propagation(df, rounds=4)
    got = {r["community"]: r for r in modularity_report(df, comm).collect()}
    m = len(edges)  # 13
    # LPA labels each clique with its smallest id (1 and 5)
    assert set(got) == {1, 5}
    for c, dsum in ((1, 3 * 3 + 4), (5, 3 * 3 + 4)):
        r = got[c]
        assert r["n_nodes"] == 4 and r["e_in"] == 6 and r["d_sum"] == dsum
        want = 6 / m - (dsum / (2 * m)) ** 2
        assert abs(r["contrib"] - want) < 1e-9
    q = sum(r["contrib"] for r in got.values())
    assert q > 0.3  # strong community structure
    # degenerate: everything one community -> Q = e/m - 1 = 0 exactly
    one = comm.selectExpr("node", "CAST(1 AS BIGINT) AS community")
    rows = modularity_report(df, one).collect()
    assert len(rows) == 1 and abs(rows[0]["contrib"]) < 1e-12


def test_assortativity_reference_graphs(spark):
    """Assortativity vs known values: a star is perfectly
    disassortative (r = -1), a regular graph (cycle) has zero degree
    variance (NULL), and a numpy Pearson over the symmetrized pairs
    must match a scrambled graph."""
    import numpy as np

    from pydala2_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    [r] = degree_assortativity(star).collect()
    assert (r["n_nodes"], r["n_edges"]) == (6, 5)
    assert r["assortativity"] == -1.0
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    [r2] = degree_assortativity(cycle).collect()
    assert r2["assortativity"] is None  # regular graph: undefined
    mixed = [(0, 1), (0, 2), (0, 3), (1, 2), (3, 4), (4, 5), (5, 6), (2, 6)]
    [r3] = degree_assortativity(
        spark.createDataFrame(mixed, "src long, dst long")
    ).collect()
    deg = {}
    for a, b in mixed:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in mixed] + [deg[b] for a, b in mixed]
    ys = [deg[b] for a, b in mixed] + [deg[a] for a, b in mixed]
    want = np.corrcoef(xs, ys)[0, 1]
    assert abs(r3["assortativity"] - want) < 1e-6


def test_clustering_coeff_hand_graphs(spark):
    """Clustering coefficients vs hand math mirrored on the query's
    composition: K3 + a pendant node. Degrees (3,2,2,1); wedges =
    3+1+1 = 3... spelled out below."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.graph import triangle_counts

    # K3 on {1,2,3} plus pendant 4-1: deg = {1:3, 2:2, 3:2, 4:1}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "src long, dst long"
    ).localCheckpoint()
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    per_node = (
        deg.filter(F.col("d") >= 2)
        .join(tri.withColumnRenamed("node", "n"), "n", "left")
        .select("n", "d", F.coalesce("n_triangles", F.lit(0)).alias("t"))
    )
    rows = {r["n"]: (r["d"], r["t"]) for r in per_node.collect()}
    assert rows == {1: (3, 1), 2: (2, 1), 3: (2, 1)}
    # wedges = 3 + 1 + 1 = 5; sum_t = 3 -> global C = 3/5
    # local: c1 = 1/3, c2 = c3 = 1 -> avg = (1/3 + 2) / 3
    sum_t = sum(t for _, t in rows.values())
    wedges = sum(d * (d - 1) // 2 for d, _ in rows.values())
    assert (sum_t, wedges) == (3, 5)
    assert abs(sum_t / wedges - 0.6) < 1e-12
    avg_local = (1 / 3 + 1.0 + 1.0) / 3
    assert abs(avg_local - 7 / 9) < 1e-12


def test_personalized_pagerank_locality_and_mass(spark):
    """PPR on a barbell: teleporting to one end concentrates mass
    there; total mass stays ~1; a disconnected seedless component
    gets (almost) nothing; guards raise."""
    import pytest

    from pydala2_spark.operators.graph import personalized_pagerank

    # two triangles {1,2,3} and {4,5,6} joined by 3-4; island {7,8}
    pairs = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4), (7, 8)]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs] + [(b, a, 1) for a, b in pairs],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    pr = {r["node"]: r["pr"] for r in
          personalized_pagerank(edges, seeds, iterations=4).collect()}
    total = sum(pr.values())
    assert abs(total - 1.0) < 1e-9
    # seed-side triangle holds most of the mass
    assert pr[1] > pr[4] and pr[2] > pr[5]
    assert sum(pr[n] for n in (1, 2, 3)) > 0.6
    # the island never receives teleport or walk mass
    assert pr[7] == 0.0 and pr[8] == 0.0
    with pytest.raises(ValueError):
        personalized_pagerank(edges, seeds, iterations=0)


# -- driver loop vs distributed loop: bit-identical rows ---------------


def _adversarial_edges(kind: str):
    """A deterministic random graph plus every awkward shape at once:
    duplicate edges, self-loops, null ids on either side, a sink, a
    node whose only neighbor is null, and weights up to 7. ``string``
    ids are the decimal strings, so their order ("10" < "9") differs
    from the ``long`` order the tie-breaks see."""
    import random

    rng = random.Random(20240)
    rows = [(rng.randrange(40), rng.randrange(40), rng.randrange(1, 8)) for _ in range(240)]
    rows += rows[:30]  # duplicates
    rows += [(3, 3, 2), (17, 17, 1)]  # self-loops
    rows += [(None, 5, 1), (6, None, 2), (None, None, 1), (90, None, 1)]
    rows += [(7, 99, 3), (8, 99, 1)]  # 99 is a sink
    if kind == "string":
        rows = [
            (None if a is None else str(a), None if b is None else str(b), w)
            for a, b, w in rows
        ]
    return rows


def _ids(kind: str, vals):
    return [None if v is None else (str(v) if kind == "string" else v) for v in vals]


def _both_paths(spark, monkeypatch, run):
    """``run()`` on the driver path, then with the budget at 0 (the
    distributed loop) while the fetch helper refuses to run — the
    scale contract: over budget nothing is fetched to the driver.
    Returns both results as (schema, sorted row reprs)."""
    from pydala2_spark.operators import graph as G

    def shape(df):
        rows = sorted(repr(tuple(r)) for r in df.collect())
        return [(f.name, f.dataType) for f in df.schema.fields], rows

    fetched = []
    real = G._fetch_local
    monkeypatch.setattr(
        G, "_fetch_local", lambda df, label: fetched.append(label) or real(df, label)
    )
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        local = shape(run())
        # the fetch labels its job, then hands the caller's label back
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert fetched, "the driver path did not run"
    assert all(l.startswith("graph.") and l.endswith(": fetch edges") for l in fetched)

    def refuse(df, label):
        raise AssertionError(f"fetched over budget: {label}")

    monkeypatch.setattr(G, "DRIVER_EDGE_BUDGET", 0)
    monkeypatch.setattr(G, "_fetch_local", refuse)
    distributed = shape(run())
    monkeypatch.undo()
    return local, distributed


def test_eager_materialize_labels_its_job(spark):
    """Every eager materialization is named: its job runs under the
    label (tasks see it as the job description), and the caller's
    description comes back afterwards. A lazy one runs no job."""
    from conftest import spark_jobs
    from pyspark import TaskContext

    from pydala2_spark.frames import materialize

    @F.udf("string")
    def seen(_):
        return TaskContext.get().getLocalProperty("spark.job.description")

    df = spark.range(3).select(seen("id").alias("d"))
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        ck = materialize(df, "probe: eager")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert {r["d"] for r in ck.collect()} == {"probe: eager"}
    _, jobs = spark_jobs(spark, lambda: materialize(df))
    assert jobs == 0


@pytest.mark.parametrize("kind", ["long", "string"])
def test_pagerank_driver_loop_matches_distributed(spark, monkeypatch, kind):
    from pydala2_spark.operators.graph import pagerank

    schema = f"src {kind}, dst {kind}, w long"
    for rows in (_adversarial_edges(kind), []):
        e = spark.createDataFrame(rows, schema)
        local, dist = _both_paths(spark, monkeypatch, lambda: pagerank(e, iterations=4))
        assert local == dist
        assert bool(local[1]) == bool(rows)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_ppr_driver_loop_matches_distributed(spark, monkeypatch, kind):
    from pydala2_spark.operators.graph import personalized_pagerank

    e = spark.createDataFrame(
        _adversarial_edges(kind), f"src {kind}, dst {kind}, w long"
    )
    empty = spark.createDataFrame([], f"src {kind}, dst {kind}, w long")
    # duplicate seeds, a seed outside the graph (500), a null seed, a
    # seed on the sink
    seeds = spark.createDataFrame(
        [(v,) for v in _ids(kind, [1, 1, 500, None, 99, 12])], f"node {kind}"
    )
    no_seeds = spark.createDataFrame([], f"node {kind}")
    outside = f"({_ids(kind, [500])[0]!r},"
    for edges, s in ((e, seeds), (e, no_seeds), (empty, seeds), (empty, no_seeds)):
        local, dist = _both_paths(
            spark, monkeypatch, lambda: personalized_pagerank(edges, s, iterations=3)
        )
        assert local == dist
        # a seed outside the graph still holds teleport mass
        assert any(r.startswith(outside) for r in local[1]) == (s is seeds)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_hits_driver_loop_matches_distributed(spark, monkeypatch, kind):
    from pydala2_spark.operators.graph import hits

    rows = [(a, b) for a, b, _ in _adversarial_edges(kind)]
    for data in (rows, []):
        e = spark.createDataFrame(data, f"c {kind}, p {kind}")
        local, dist = _both_paths(
            spark, monkeypatch, lambda: hits(e, iterations=4, hub_col="c", auth_col="p")
        )
        assert local == dist
        assert bool(local[1]) == bool(data)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_label_propagation_driver_loop_matches_distributed(spark, monkeypatch, kind):
    from pydala2_spark.operators.graph import label_propagation

    rows = [(a, b) for a, b, _ in _adversarial_edges(kind)]
    # a node whose only neighbor is null drops out after one round
    rows += [(_ids(kind, [70])[0], None)]
    for data in (rows, []):
        e = spark.createDataFrame(data, f"src {kind}, dst {kind}")
        for rounds in (1, 4):
            local, dist = _both_paths(
                spark, monkeypatch, lambda: label_propagation(e, rounds=rounds)
            )
            assert local == dist


def test_decimal_steps_match_python_decimal():
    """The driver loops' vectorized DECIMAL steps against a per-value
    ``decimal`` reference: HALF_UP on the shortest repr (ties at the
    13th and 16th decimal, whose binary values sit on either side of
    the tie — numpy's rint misses about half of them — plus random
    values), and correctly rounded decimal -> double, also past 2^52
    where the fast division stops."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from pydala2_spark.operators.graph import _half_up, _to_double

    rng = random.Random(7)
    xs = [float(f"0.{rng.randrange(10**12):012d}5") for _ in range(2000)]
    xs += [float(f"0.000{rng.randrange(10**12):012d}5") for _ in range(2000)]
    xs += [float(f"0.{rng.randrange(10**15):015d}5") for _ in range(2000)]
    xs += [rng.random() * rng.choice([1e-6, 1e-3, 1.0, 7.0]) for _ in range(4000)]
    xs += [-v for v in xs[:500]] + [0.0, 1.0, 123456.0]
    x = np.array(xs)
    for scale in (12, 15):
        want = [
            int(Decimal(repr(v)).scaleb(scale).quantize(Decimal(1), ROUND_HALF_UP))
            for v in xs
        ]
        assert _half_up(x, scale).tolist() == want
    ints = np.array([rng.randrange(-(2**60), 2**60) for _ in range(500)] + [2**52, 12345])
    for scale in (12, 15):
        got = _to_double(ints, scale)
        assert [repr(v) for v in got] == [repr(int(i) / 10**scale) for i in ints]
    with pytest.raises(Exception):
        _half_up(np.array([float("nan")]), 12)
