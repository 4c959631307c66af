"""k-means and k-center: the driver loop against the distributed loop
(bit-identical rows and centroids), the frames that fall back to the
distributed loop, the budget boundary and the k-center guards."""

from __future__ import annotations

import random

import pytest


def _shape(df):
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return [(f.name, f.dataType) for f in df.schema.fields], rows


def _outcome(run):
    """``run()``'s comparable result, or the error class it raised."""
    try:
        return run()
    except Exception as e:  # both paths must fail alike
        return ("raised", type(e).__name__)


def _both_paths(monkeypatch, run):
    """``run()`` on the driver path, then with the budget at 0 while
    the fetch refuses to run. Returns both outcomes and the labels of
    the driver path's fetches."""
    from pydala2_spark.operators import similarity as S

    fetched = []
    real = S._fetch_local
    monkeypatch.setattr(
        S, "_fetch_local", lambda df, label: fetched.append(label) or real(df, label)
    )
    local = _outcome(run)

    def refuse(df, label):
        raise AssertionError(f"fetched over budget: {label}")

    monkeypatch.setattr(S, "DRIVER_VECTOR_BUDGET", 0)
    monkeypatch.setattr(S, "_fetch_local", refuse)
    distributed = _outcome(run)
    monkeypatch.undo()
    return local, distributed, fetched


def _fit(df, **kw):
    from pydala2_spark.operators.similarity import kmeans_lloyd

    def run():
        assigned, cents = kmeans_lloyd(df, **kw)
        return (None if assigned is None else _shape(assigned)), repr(cents)

    return run


def _cloud(n: int = 90, dim: int = 5, seed: int = 5):
    """Random vectors on a coarse grid plus exact copies: equal
    distances to two centroids and equal cosines are common."""
    rng = random.Random(seed)
    rows = [
        [rng.choice([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0]) + rng.random() * (i % 3 == 0)
         for _ in range(dim)]
        for i in range(n)
    ]
    rows += [list(rows[i]) for i in range(0, n, 7)]  # duplicate vectors
    return rows


def _gauss(n: int, dim: int, seed: int = 8):
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def _frame(spark, vecs, ids=None, id_type="long"):
    ids = list(range(len(vecs))) if ids is None else ids
    return spark.createDataFrame(
        list(zip(ids, vecs)), f"vec_id {id_type}, embedding array<float>"
    )


def test_kmeans_driver_loop_matches_distributed(spark, monkeypatch):
    cloud = _frame(spark, _cloud())
    # ids 0 and 1 are one point: seed 1 loses every member to seed 0
    # (ties go to the smaller cid) and its cluster drops out
    empties = _frame(spark, [[0.0, 0.0], [0.0, 0.0], [4.0, 4.0], [5.0, 4.0], [9.0, 1.0]])
    # x=1 lies halfway between seeds 0 and 2
    halfway = _frame(spark, [[0.0], [2.0], [1.0], [1.0], [7.0]])
    # decimal-string ids: "10" sorts before "9", as Spark orders them
    strings = _frame(
        spark, _cloud(30, 3, seed=9), [str(i) for i in range(30)], "string"
    )
    # 64 dimensions: a summation order other than the left fold shows
    wide = _frame(spark, _gauss(40, 64))
    cases = [
        (cloud, dict(k=4, iters=3, dim=5)),
        (wide, dict(k=4, iters=2, dim=64)),
        (cloud, dict(k=4, iters=0, dim=5)),
        (cloud, dict(k=6, iters=2, dim=5, assign=False)),
        (cloud, dict(k=4, iters=2, dim=5, persist=False)),
        (empties, dict(k=3, iters=2, dim=2)),
        (halfway, dict(k=2, iters=1, dim=1)),
        (cloud.filter("vec_id < 3"), dict(k=5, iters=2, dim=5)),  # corpus < k
        (strings, dict(k=3, iters=2, dim=3)),
    ]
    for df, kw in cases:
        local, dist, fetched = _both_paths(monkeypatch, _fit(df, **kw))
        assert local == dist, kw
        assert fetched == ["similarity.kmeans_lloyd: fetch vectors"]
    from pydala2_spark.operators.similarity import kmeans_lloyd

    assert [c for c, _ in kmeans_lloyd(empties, k=3, iters=2, dim=2)[1]] == [0, 2]
    assert len(kmeans_lloyd(cloud.filter("vec_id < 3"), k=5, dim=5)[1]) == 3


@pytest.mark.parametrize("bad", ["null_id", "null_vector", "ragged", "null_element", "nan", "huge", "repeated_id"])
def test_kmeans_fallback_frames_match_distributed(spark, monkeypatch, bad):
    """A frame the driver loop does not reproduce is fetched, then
    left to the distributed loop on the checkpoint: the driver loop
    never runs, and both paths return the same (or fail alike)."""
    from pydala2_spark.operators import similarity as S

    vecs = _cloud(20, 3, seed=3)
    ids = list(range(len(vecs)))
    if bad == "null_id":
        ids[4] = None
    elif bad == "null_vector":
        vecs[5] = None
    elif bad == "ragged":
        vecs[6] = vecs[6][:2]
    elif bad == "null_element":
        vecs[7] = [1.0, None, 2.0]
    elif bad == "nan":
        vecs[8] = [float("nan"), 1.0, 2.0]
    elif bad == "huge":
        vecs[9] = [1e25, 1.0, 2.0]
    else:
        ids[10], vecs[10] = ids[11], vecs[11]
    df = _frame(spark, vecs, ids)

    def refuse(*a):
        raise AssertionError("driver loop ran on a fallback frame")

    monkeypatch.setattr(S, "_lloyd_local", refuse)
    local, dist, fetched = _both_paths(
        monkeypatch, _fit(df, k=3, iters=2, dim=3)
    )
    assert fetched and local == dist


def _coreset(df, k):
    from pydala2_spark.operators.similarity import kcenter_coreset

    return lambda: _shape(kcenter_coreset(df, k=k))


def test_kcenter_driver_loop_matches_distributed(spark, monkeypatch):
    vecs = _cloud(60, 4, seed=11)
    # duplicate vectors tie on max-cos; ids break the tie
    df = _frame(spark, vecs)
    wide = _frame(spark, _gauss(40, 64))
    for frame, k in ((df, 2), (df, 6), (df, len(vecs)), (wide, 8)):
        local, dist, fetched = _both_paths(monkeypatch, _coreset(frame, k))
        assert local == dist
        assert fetched == ["similarity.kcenter_coreset: fetch vectors"]
        assert len(local[1]) == k


@pytest.mark.parametrize("bad", ["null_id", "null_vector", "ragged", "null_element", "nan", "repeated_id"])
def test_kcenter_fallback_frames_match_distributed(spark, monkeypatch, bad):
    from pydala2_spark.operators import similarity as S

    vecs = _cloud(20, 3, seed=4)
    ids = list(range(len(vecs)))
    if bad == "null_id":
        ids[4] = None
    elif bad == "null_vector":
        vecs[5] = None
    elif bad == "ragged":
        vecs[6] = vecs[6][:2]
    elif bad == "null_element":
        vecs[7] = [1.0, None, 2.0]
    elif bad == "nan":
        vecs[8] = [float("nan"), 1.0, 2.0]
    else:
        ids[10], vecs[10] = ids[11], vecs[11]
    df = _frame(spark, vecs, ids)

    def refuse(*a):
        raise AssertionError("driver loop ran on a fallback frame")

    monkeypatch.setattr(S, "_kcenter_local", refuse)
    local, dist, fetched = _both_paths(monkeypatch, _coreset(df, 5))
    assert fetched and local == dist


def test_kcenter_refuses_k_above_rows(spark, vector_loop):
    """k above the row count (an empty frame included) is a ValueError
    naming k and the row count, on both paths — not an IndexError
    from an empty pick."""
    from pydala2_spark.operators.similarity import kcenter_coreset

    df = _frame(spark, _cloud(5, 3)[:5])
    with pytest.raises(ValueError, match=r"k=7 exceeds the 5 rows"):
        kcenter_coreset(df, k=7)
    with pytest.raises(ValueError, match=r"k=2 exceeds the 0 rows"):
        kcenter_coreset(df.filter("vec_id < 0"), k=2)
    assert len(kcenter_coreset(df, k=5).collect()) == 5


def test_vector_budget_boundary(spark, monkeypatch):
    """The budget counts rows plus vector elements held: a frame at
    the budget runs distributed, one value under it is fetched."""
    from pydala2_spark.operators import similarity as S

    vecs = _cloud(12, 3)
    df = _frame(spark, vecs)
    held = len(vecs) * 4  # each row holds one id and 3 elements
    fetched = []
    real = S._fetch_local
    monkeypatch.setattr(
        S, "_fetch_local", lambda df, label: fetched.append(label) or real(df, label)
    )
    monkeypatch.setattr(S, "DRIVER_VECTOR_BUDGET", held)
    at = S.kmeans_lloyd(df, k=2, iters=1, dim=3)[1]
    assert not fetched
    monkeypatch.setattr(S, "DRIVER_VECTOR_BUDGET", held + 1)
    under = S.kmeans_lloyd(df, k=2, iters=1, dim=3)[1]
    assert fetched
    assert repr(at) == repr(under)


def test_decimal_kit_is_shape_agnostic():
    """The driver loops' DECIMAL steps give a 2-D array (row- or
    column-major) the values they give it flattened, past the int64
    and 2^52 ranges too."""
    import numpy as np

    from pydala2_spark.local import _half_up, _sum_by, _to_double

    rng = np.random.default_rng(1)
    x = rng.normal(size=(40, 6)) * rng.choice([1e-3, 1.0, 1e7], size=(40, 6))
    x[3, 2] = 0.0000125  # a tie at the 6th decimal
    x[5, 1] = 3e15  # scaled past 2^52
    flat = _half_up(x.ravel(), 6)
    two = _half_up(x, 6)
    assert two.shape == x.shape and two.ravel().tolist() == flat.tolist()
    assert _half_up(np.asfortranarray(x), 6).tolist() == two.tolist()  # column-major
    assert _to_double(two, 6).ravel().tolist() == _to_double(flat, 6).tolist()
    idx = rng.integers(0, 4, 40)
    sums = _sum_by(idx, two, 4)
    for j in range(6):
        assert sums[:, j].tolist() == _sum_by(idx, two[:, j].copy(), 4).tolist()
    big = _half_up(np.array([[1e14, 2e14], [3.5, 1.0]]), 6)
    assert big.dtype == object and big.shape == (2, 2)
    assert _to_double(big, 6).tolist() == [[1e14, 2e14], [3.5, 1.0]]


def test_unit_expr_matches_per_element_norm_bit_for_bit(spark):
    """``unit_expr`` sums the squared norm once per row (aggregate's
    finish lambda). It must equal, bit for bit, the form that re-sums
    the norm inside the per-element lambda, on random double and float
    vectors of mixed magnitude, plus null, empty and signed-zero ones."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.similarity import unit_expr

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) * 10 ** rng.randint(-6, 6) for _ in range(rng.randint(1, 24))])
        for i in range(300)
    ] + [(300, None), (301, []), (302, [-0.0, 3.0])]
    df = spark.createDataFrame(rows, "id long, d array<double>").withColumn(
        "f", F.col("d").cast("array<float>")
    )

    def per_element(a):
        return F.expr(
            f"transform({a}, x -> cast(x as double) / sqrt(aggregate({a}, cast(0 as double), "
            f"(acc, y) -> acc + cast(y as double) * cast(y as double))))"
        )

    def bits(v):
        return None if v is None else [x.hex() for x in v]

    got = df.select(
        "id",
        *[unit_expr(c).alias(f"new_{c}") for c in ("d", "f")],
        *[per_element(c).alias(f"old_{c}") for c in ("d", "f")],
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        for c in ("d", "f"):
            assert bits(r[f"new_{c}"]) == bits(r[f"old_{c}"]), (r["id"], c)
