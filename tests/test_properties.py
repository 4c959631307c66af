"""Property-based tests (hypothesis) for the pure, driver-side logic:
schema promotion, sort-spec parsing, minhash constants. These run
without a SparkSession — fast invariant checks on the corners the
example-based tests don't enumerate."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from pydala2_spark.functions.schema_tools import (
    _INT_BOUNDS,
    _narrowest_int,
    promote_types,
    unify_schemas,
)
from pydala2_spark.functions.sortspec import to_sort_columns

LADDER_TYPES = [
    T.NullType(),
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
    T.StringType(),
]

type_st = st.sampled_from(LADDER_TYPES + [T.TimestampType(), T.DateType(), T.BooleanType()])


@given(a=type_st, b=type_st)
def test_promote_commutative(a, b):
    assert promote_types(a, b) == promote_types(b, a)


@given(a=type_st)
def test_promote_idempotent(a):
    assert promote_types(a, a) == a


@given(a=type_st, b=type_st)
def test_promote_is_closed(a, b):
    # result is always one of the participating types or a ladder supertype
    out = promote_types(a, b)
    assert out in LADDER_TYPES + [a, b, T.TimestampType()]


@given(st.lists(st.permutations(LADDER_TYPES[1:5]), min_size=1, max_size=4))
def test_unify_order_insensitive_types(perms):
    # same field name with int types in any order → always long (widest)
    schemas = [T.StructType([T.StructField("x", t) for t in perm]) for perm in perms]
    out = unify_schemas([T.StructType([T.StructField("x", perm[0])]) for perm in perms])
    assert out["x"].dataType in (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())


@given(lo=st.integers(min_value=-(2**63), max_value=2**63 - 1), span=st.integers(0, 2**62))
def test_narrowest_int_contains_range(lo, span):
    hi = min(lo + span, 2**63 - 1)  # stats come from int64 columns
    name = _narrowest_int(lo, hi)
    b = _INT_BOUNDS[name]
    assert b[0] <= lo and hi <= b[1]


@given(
    cols=st.lists(
        st.tuples(
            st.text(alphabet="abcxyz_", min_size=1, max_size=8),
            st.sampled_from(["asc", "desc"]),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=50, deadline=None)
def test_sortspec_string_and_tuple_forms_agree(cols, spark):  # Column exprs need an active session
    as_string = ", ".join(f"{c} {d}" for c, d in cols)
    as_tuples = [(c, d) for c, d in cols]
    assert [str(c) for c in to_sort_columns(as_string)] == [
        str(c) for c in to_sort_columns(as_tuples)
    ]


def test_minhash_consts_are_stable():
    from pydala2_spark.operators.dedup import _minhash_consts

    a1, b1 = _minhash_consts(12)
    a2, b2 = _minhash_consts(12)
    assert a1 == a2 and b1 == b2
    assert all(v > 0 for v in a1)  # multiplier 0 would collapse the hash


# -- merge idempotency contract (not hypothesis — needs the session) ----


def test_merge_upsert_idempotent(spark, tmp_path):
    """Applying the same upsert batch twice must be a no-op the second
    time: identical rows, no extra files rewritten as inserts."""
    import pyarrow as pa

    from pydala2_spark.operators.merge import merge

    path = str(tmp_path / "ds")
    batch = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    merge(spark, path, batch, strategy="upsert", key_columns=["id"])
    r2 = merge(spark, path, batch, strategy="upsert", key_columns=["id"])
    assert r2.inserted == 0 and r2.updated == 3
    rows = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    r3 = merge(spark, path, batch, strategy="insert", key_columns=["id"])
    assert r3.inserted == 0
    assert sorted((r.id, r.v) for r in spark.read.parquet(path).collect()) == rows


def test_duplicate_clusters_matches_bfs_reference(spark):
    """Randomized graphs: duplicate_clusters (driver union-find path)
    must label every node with the min id of its connected component,
    with correct sizes — checked against a pure-Python BFS."""
    import random

    rng = random.Random(1234)
    for trial in range(3):
        n = 120
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(40, 140))
            }
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")

        from pydala2_spark.operators.dedup import duplicate_clusters

        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in duplicate_clusters(pairs).collect()
        }

        # BFS reference over the same edge set
        adj: dict[int, set] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        seen: set = set()
        for start in adj:
            if start in seen:
                continue
            comp, queue = [], [start]
            seen.add(start)
            while queue:
                v = queue.pop()
                comp.append(v)
                for w in adj[v]:
                    if w not in seen:
                        seen.add(w)
                        queue.append(w)
            label = min(comp)
            for v in comp:
                want[v] = (label, len(comp))
        assert got == want, f"trial {trial}: clusters diverge from BFS"


def test_duplicate_clusters_distributed_path_matches_bfs(spark):
    """Same contract for the distributed min-label-propagation path
    (forced by driver_edge_limit=0), including a long chain whose
    diameter exercises the pointer-doubling rounds."""
    from pydala2_spark.operators.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(40)]  # one 41-node path graph
    extra = [(100, 105), (105, 110), (200, 201)]
    pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs, driver_edge_limit=0).collect()
    }
    assert all(got[i] == (0, 41) for i in range(41))
    assert got[100] == (100, 3) and got[110] == (100, 3)
    assert got[200] == (200, 2) and got[201] == (200, 2)


def test_cc_step_materializes_stepped_once(spark):
    """The pointer-doubling self-join must read a SINGLE materialized
    copy of the min-label frame: its plan is two scans of the same
    checkpointed RDD, with the neighbour-join/aggregate pipeline
    (HashAggregate + Union + the edge join) absent — i.e. it runs once
    per round, not once per join side."""
    from pydala2_spark.operators.dedup import _cc_step

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "node long, label long"
    )
    plan = _cc_step(edges, labels)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan
    assert "Union" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan


# -- round-4 operators vs independent references -----------------------


def test_kmeans_matches_numpy_lloyd(spark, vector_loop):
    """kmeans_lloyd vs a from-scratch numpy Lloyd's with the same
    deterministic seeds and iteration count: assignments must agree
    exactly on a random (non-separable) cloud — this checks the
    update/assign machinery of both the DISTRIBUTED loop and the
    driver loop (``vector_loop``), not just happy blobs."""
    import numpy as np

    from pydala2_spark.operators.similarity import kmeans_lloyd

    rng = np.random.RandomState(3)
    X = rng.randn(80, 6).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    k, iters = 3, 3
    assigned, cents = kmeans_lloyd(df, k=k, iters=iters, dim=6)
    got = {r["vec_id"]: r["cid"] for r in assigned.collect()}

    Xd = X.astype("float64")
    C = Xd[:k].copy()  # seeds: k smallest vec_ids
    for _ in range(iters):
        d2 = ((Xd[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)  # ties: lowest cid, same as argmin
        for c in range(k):
            if (lab == c).any():
                C[c] = Xd[lab == c].mean(axis=0)
    d2 = ((Xd[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    lab = d2.argmin(axis=1)
    want = {i: int(lab[i]) for i in range(len(X))}
    # numpy means differ from decimal-accumulated means in the last
    # ulp, so compare assignments (robust) not centroids (bit-fragile)
    assert got == want


def test_funnel_matches_bruteforce(spark):
    """funnel_counts vs a per-user python scan over random event logs."""
    import datetime as dt
    import random

    from pydala2_spark.operators.events import funnel_counts

    rnd = random.Random(7)
    types = ["view", "click", "purchase", "error"]
    rows = []
    for uid in range(40):
        for j in range(rnd.randint(0, 12)):
            rows.append(
                (
                    uid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rnd.randint(0, 5000)),
                    rnd.choice(types),
                )
            )
    if not rows:
        rows = [(0, dt.datetime(2024, 1, 1), "view")]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")

    steps = ["view", "click", "purchase"]
    row = funnel_counts(df, steps).first()
    got = [row[f"n_{i}"] for i in range(len(steps))]

    by_user: dict[int, list] = {}
    for uid, ts, et in rows:
        by_user.setdefault(uid, []).append((ts, et))
    want = [0] * len(steps)
    for evs in by_user.values():
        evs.sort()
        t = None
        for i, step in enumerate(steps):
            nxt = min(
                (ts for ts, et in evs if et == step and (t is None or ts > t)),
                default=None,
            )
            if nxt is None:
                break
            t = nxt
            want[i] += 1
    assert got == want


def test_segment_dups_matches_bruteforce(spark):
    """cross_doc_segment_dups vs a python dict over random token docs."""
    import random

    from pydala2_spark.operators.dedup import cross_doc_segment_dups

    rnd = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        i: " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 20)))
        for i in range(30)
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    k = 3
    got = {
        r["doc_id"]: (r["n_segs"], r["n_dup"])
        for r in cross_doc_segment_dups(df, k=k).collect()
    }

    segs = {}
    per_doc = {}
    for did, text in texts.items():
        toks = text.split(" ")
        ss = [
            " ".join(toks[i * k : (i + 1) * k]) for i in range(len(toks) // k)
        ]
        if ss:
            per_doc[did] = ss
            for s in ss:
                segs.setdefault(s, set()).add(did)
    want = {
        did: (len(ss), sum(1 for s in ss if len(segs[s]) > 1))
        for did, ss in per_doc.items()
    }
    assert got == want


def test_boilerplate_removal_matches_bruteforce(spark):
    """remove_boilerplate_segments vs a pure-python cut-and-rejoin over
    random token docs — exact cleaned-text equality, including the
    short-doc (all-tail), full-removal (doc dropped), and ragged-tail
    cases the generator covers by construction."""
    import random

    from pydala2_spark.operators.dedup import remove_boilerplate_segments

    rnd = random.Random(29)
    vocab = [f"w{i}" for i in range(8)]  # small vocab -> real collisions
    texts = {
        i: " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 16)))
        for i in range(40)
    }
    # degenerate inputs must be dropped, not emitted with cleaned=''
    # (split('', ' ') is [''], so token count alone can't filter them)
    texts[100] = ""
    texts[101] = "   "
    k, min_docs = 3, 2
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_kept"], r["n_dropped"])
        for r in remove_boilerplate_segments(df, k=k, min_docs=min_docs).collect()
    }

    seg_docs: dict[str, set[int]] = {}
    split = {}
    for did, text in texts.items():
        toks = text.split(" ")
        ss = [" ".join(toks[i * k : (i + 1) * k]) for i in range(len(toks) // k)]
        split[did] = (toks, ss)
        for s in ss:
            seg_docs.setdefault(s, set()).add(did)
    want = {}
    for did, (toks, ss) in split.items():
        kept_toks = []
        n_dropped = 0
        for i, s in enumerate(ss):
            if len(seg_docs[s]) >= min_docs:
                n_dropped += 1
            else:
                kept_toks.extend(toks[i * k : (i + 1) * k])
        kept_toks.extend(toks[len(ss) * k :])  # tail never cut
        if " ".join(kept_toks).strip():
            want[did] = (" ".join(kept_toks), len(kept_toks), n_dropped)
    assert got == want
    # the generator's seed must actually exercise the edit: at least
    # one doc with a drop and at least one fully-removed doc
    assert any(nd > 0 for _, _, nd in want.values())
    assert len(want) < len(texts)


def test_semantic_dedup_matches_bruteforce(spark):
    """semantic_dedup vs a from-scratch python pipeline (numpy Lloyd's
    with the same smallest-id seeds + within-cell pairwise cosine +
    lowest-id keep rule) — per-vector verdicts and max-cos equality on
    a random cloud WITH planted near-duplicates."""
    import numpy as np

    from pydala2_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(11)
    n, dim, k, thresh = 120, 8, 3, 0.9
    x = rng.normal(size=(n, dim))
    for i in range(0, 30, 3):  # planted dups: tiny perturbations
        x[i + 1] = x[i] + rng.normal(scale=0.01, size=dim)
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        r["vec_id"]: (r["cid"], r["is_dup"], r["max_cos"])
        for r in semantic_dedup(df, k=k, iters=2, threshold=thresh, dim=dim).collect()
    }

    xf = x.astype(np.float32).astype(np.float64)  # float32 storage round-trip
    cents = xf[:k].copy()  # smallest-id seeds
    for _ in range(2):
        d2 = ((xf[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties: lowest cid (argmin default)
        cents = np.stack(
            [xf[assign == c].mean(axis=0) if (assign == c).any() else cents[c] for c in range(k)]
        )
    d2 = ((xf[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    u = xf / np.linalg.norm(xf, axis=1, keepdims=True)
    want = {}
    for i in range(n):
        best = None
        for j in range(n):
            if j < i and assign[j] == assign[i]:
                c = round(float(u[i] @ u[j]), 4)
                if c >= thresh and (best is None or c > best):
                    best = c
        want[i] = (int(assign[i]), best is not None, best)

    assert {i: v[0] for i, v in got.items()} == {i: v[0] for i, v in want.items()}
    assert {i: v[1] for i, v in got.items()} == {i: v[1] for i, v in want.items()}
    for i in range(n):  # float max-cos agrees to rounding
        a, b = got[i][2], want[i][2]
        assert (a is None) == (b is None) and (a is None or abs(a - b) <= 1e-4)
    assert sum(1 for v in want.values() if v[1]) >= 8  # dups actually planted


def test_scd2_matches_python_reference_on_random_batches(spark):
    """Random batch sequences through scd2_frames vs a dict-based
    python SCD2 model — full history equality, not just invariants."""
    import random

    from pydala2_spark.operators.merge import scd2_frames

    rng = random.Random(42)
    keys = list(range(12))

    def ref_apply(hist, batch, ts):
        # hist: list of [k, val, vf, vt]; batch: {k: val} (last-wins applied)
        cur = {r[0]: r for r in hist if r[3] is None}
        out = [list(r) for r in hist]
        for k, val in batch.items():
            c = cur.get(k)
            if c is None:
                out.append([k, val, ts, None])
            elif c[1] != val:
                for r in out:
                    if r[0] == k and r[3] is None:
                        r[3] = ts
                out.append([k, val, ts, None])
        return out

    hist_ref = [[k, f"v{k}", 0, None] for k in keys]
    h = spark.createDataFrame(
        [tuple(r) for r in hist_ref], "k long, val string, valid_from long, valid_to long"
    )
    for ts in range(1, 5):
        batch_rows = []
        batch_map = {}
        for k in rng.sample(keys, rng.randint(1, 8)):
            val = f"b{ts}_{rng.randint(0, 2)}"
            batch_rows.append((k, val))
            batch_map[k] = val  # unique keys per batch here
        src = spark.createDataFrame(batch_rows, "k long, val string")
        h = scd2_frames(h, src, keys=["k"], ts=ts).localCheckpoint(eager=False)
        hist_ref = ref_apply(hist_ref, batch_map, ts)

    got = sorted(
        (r["k"], r["val"], r["valid_from"], r["valid_to"]) for r in h.collect()
    )
    want = sorted((r[0], r[1], r[2], r[3]) for r in hist_ref)
    assert got == want


def test_snapshots_match_python_model_on_random_ops(spark, tmp_path):
    """Random commit/overwrite/rollback sequence vs a python model of
    per-version visible row sets — every historical version must read
    back exactly its model state."""
    import random

    from pydala2_spark.plans.snapshots import SnapshotDataset

    rng = random.Random(7)
    path = str(tmp_path / "prop_snap")
    ds = SnapshotDataset(spark, path)
    model: dict[int, frozenset] = {}  # version -> visible ids
    cur: frozenset = frozenset()
    next_id = 0

    for step in range(8):
        op = rng.choice(["append", "append", "overwrite", "rollback"])
        if op == "rollback" and model:
            target = rng.choice(sorted(model))
            m = ds.rollback(target)
            cur = model[target]
        elif op == "overwrite":
            ids = frozenset(range(next_id, next_id + rng.randint(1, 5)))
            next_id = max(ids) + 1
            m = ds.commit(
                spark.createDataFrame([(i,) for i in sorted(ids)], "id long"),
                mode="overwrite",
            )
            cur = ids
        else:
            ids = frozenset(range(next_id, next_id + rng.randint(1, 5)))
            next_id = max(ids) + 1
            m = ds.commit(
                spark.createDataFrame([(i,) for i in sorted(ids)], "id long")
            )
            cur = cur | ids
        model[m["version"]] = cur

    for v, want in model.items():
        got = frozenset(r["id"] for r in ds.read(version=v).collect())
        assert got == want, f"version {v}: {got} != {want}"


# -- media codec round-trips over ARBITRARY arrays (round 6) ------------
# pure-python + numpy; no Spark session needed


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.integers(0, 2**32 - 1),
)
def test_bmp_png_roundtrip_any_array(h, w, seed):
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_image_pixels,
        encode_bmp,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_image_pixels(encode_bmp(arr)), arr)
    nch = 1 + seed % 4
    arr2 = rng.integers(0, 256, (h, w, nch), dtype=np.uint8)
    assert np.array_equal(decode_image_pixels(encode_png(arr2)), arr2)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 16), st.integers(1, 16), st.integers(1, 8), st.integers(0, 2**32 - 1))
def test_gif_roundtrip_any_palette(h, w, ncolors, seed):
    import numpy as np

    from pydala2_spark.operators.multimodal import decode_gif_pixels, encode_gif

    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    arr = palette[rng.integers(0, ncolors, (h, w))]
    assert np.array_equal(decode_gif_pixels(encode_gif(arr)), arr)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 200), st.integers(1, 2), st.integers(0, 2**32 - 1))
def test_wav_pcm16_roundtrip_any_samples(n, ch, seed):
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
    rate, back = decode_wav_samples(encode_wav_pcm16(s, 8000))
    assert rate == 8000 and np.array_equal(back, s.astype(np.int32))


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 2**32 - 1))
def test_jpeg_uniform_blocks_reconstruct_tightly(bh, bw, seed):
    """Uniform 8x8 blocks are DC-only: any uniform color reconstructs
    within ±2 at quality 95 (YCbCr round-trip + DC quantization)."""
    import numpy as np

    from pydala2_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg

    rng = np.random.default_rng(seed)
    color = rng.integers(0, 256, 3, dtype=np.uint8)
    arr = np.tile(color, (bh * 8, bw * 8, 1)).astype(np.uint8)
    back = decode_jpeg_pixels(encode_jpeg(arr, quality=95))
    assert back.shape == arr.shape
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 2


@settings(max_examples=20, deadline=None)
@given(
    st.integers(6, 40),
    st.integers(6, 40),
    st.sampled_from(["444", "422", "420"]),
    st.sampled_from([50, 75, 90]),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_progressive_decodes_bit_identical_to_baseline(h, w, sub, q, seed):
    """Progressive and baseline encoders quantize the same
    coefficients, so their decodes must be BIT-IDENTICAL for any
    input — this exercises every T.81 Annex-G scan kind (DC
    first/refine, AC spectral bands, EOB runs, correction bits)
    against the sequential path on arbitrary noise."""
    import numpy as np

    from pydala2_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    prog = decode_jpeg_pixels(encode_jpeg_progressive(arr, q, sub))
    base = decode_jpeg_pixels(encode_jpeg(arr, q, subsampling=sub))
    assert prog is not None and base is not None
    assert np.array_equal(prog, base)


def test_profile_dataframe_routes_types_and_counts(spark):
    """Numerics/timestamps land in min_num/max_num, strings in
    min_str/max_str; null/distinct counts exact; two hash-agg passes,
    no Expand-based multi-distinct."""
    import datetime as dt

    import pytest

    from pydala2_spark.functions.schema_tools import profile_dataframe

    rows = [
        (1, "a", 2.5, dt.datetime(2024, 1, 1)),
        (2, "b", None, dt.datetime(2024, 1, 3)),
        (2, None, -1.0, None),
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double, t timestamp")
    out = profile_dataframe(df)
    # two hash-agg passes joined on column_name; the Expand-based
    # multi-countDistinct (wide-key SortAggregate over every profiled
    # column at once) was measured 8x slower and must stay gone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan

    p = {r["column_name"]: r.asDict() for r in out.collect()}
    assert set(p) == {"k", "s", "v", "t"}
    assert all(r["n_rows"] == 3 for r in p.values())
    assert (p["k"]["n_null"], p["k"]["n_distinct"]) == (0, 2)
    assert (p["k"]["min_num"], p["k"]["max_num"]) == (1.0, 2.0)
    assert p["k"]["min_str"] is None and p["k"]["max_str"] is None
    assert (p["s"]["n_null"], p["s"]["n_distinct"]) == (1, 2)
    assert (p["s"]["min_str"], p["s"]["max_str"]) == ("a", "b")
    assert p["s"]["min_num"] is None
    assert (p["v"]["n_null"], p["v"]["min_num"], p["v"]["max_num"]) == (1, -1.0, 2.5)
    assert p["t"]["n_null"] == 1
    assert p["t"]["min_num"] == dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone.utc
    ).timestamp()

    # column subset + unknown column guard
    assert profile_dataframe(df, ["k"]).count() == 1
    with pytest.raises(ValueError, match="unknown"):
        profile_dataframe(df, ["nope"])


def test_value_histogram_buckets_and_edges(spark):
    """Counts per bucket exact; edge values clamp (max lands in the
    LAST bucket, below-lo in the first); explicit and auto bounds
    agree when they span the data; validation errors raise."""
    import pytest
    from pyspark.sql import functions as F

    from pydala2_spark.functions.verbs import value_histogram

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "v double"
    )
    # auto bounds: lo=0, hi=99, w=9.9 over 10 bins
    out = {r["bin"]: r.asDict() for r in
           value_histogram(df, "v", bins=10).collect()}
    assert sum(r["n"] for r in out.values()) == 100  # null dropped
    assert out[9]["n"] == 10  # 90..99, max included via clamp
    assert out[0]["bin_lo"] == 0.0 and out[9]["bin_hi"] == 99.0

    # explicit bounds narrower than the data: clamping keeps mass
    e = {r["bin"]: r["n"] for r in
         value_histogram(df, "v", bins=4, lo=20.0, hi=60.0).collect()}
    assert sum(e.values()) == 100
    assert e[0] == 30  # v <= 29 (20 below-lo clamp + 10 in-range)
    assert e[3] == 50  # v >= 50 (10 in-range + 40 above-hi clamp)

    # per-group split keeps groups independent
    g = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 2.0)], "g string, v double"
    )
    rows = value_histogram(g, "v", bins=2, group_col="g", lo=1.0, hi=3.0)
    got = {(r["g"], r["bin"]): r["n"] for r in rows.collect()}
    # half-open buckets: [1,2) and [2,3] — v=2.0 lands in bucket 1
    assert got == {("a", 0): 1, ("a", 1): 1, ("b", 1): 1}

    with pytest.raises(ValueError, match="bins"):
        value_histogram(df, "v", bins=0)
    with pytest.raises(ValueError, match="both lo and hi"):
        value_histogram(df, "v", lo=1.0)
    with pytest.raises(ValueError, match="hi > lo"):
        value_histogram(df, "v", lo=2.0, hi=2.0)


def test_skyline_2d_matches_bruteforce_dominance(spark):
    """The window skyline equals the O(n^2) dominance definition on a
    random cloud (with ties and duplicates planted), grouped and
    ungrouped; duplicates keep the lowest id."""
    import random

    from pydala2_spark.functions.verbs import skyline_2d

    rng = random.Random(77)
    rows = [(i, "g", float(rng.randint(0, 30)), rng.randint(0, 30))
            for i in range(120)]
    rows += [(200, "g", 5.0, 9), (201, "g", 5.0, 9)]  # exact duplicate pair
    rows += [(300, "h", 1.0, 1)]  # separate group: trivially in frontier

    def brute(pts):
        out = []
        for i, g, p, s in pts:
            dominated = any(
                (p2 <= p and s2 >= s and (p2 < p or s2 > s))
                or (p2 == p and s2 == s and i2 < i)
                for i2, g2, p2, s2 in pts
                if g2 == g and i2 != i
            )
            if not dominated:
                out.append(i)
        return sorted(out)

    df = spark.createDataFrame(rows, "id long, g string, price double, size int")
    got = sorted(
        r["id"]
        for r in skyline_2d(df, "price", "size", "id", group_col="g").collect()
    )
    assert got == brute(rows)
    assert 300 in got and not (200 in got and 201 in got)

    # ungrouped form over one group's points agrees
    only_g = [r for r in rows if r[1] == "g"]
    dg = spark.createDataFrame(only_g, "id long, g string, price double, size int")
    got_u = sorted(
        r["id"] for r in skyline_2d(dg, "price", "size", "id").collect()
    )
    assert got_u == brute(only_g)


def test_triangle_counts_matches_bruteforce_reference(spark):
    """Randomized cross-check: degree-oriented enumeration must equal
    an itertools brute force on arbitrary small graphs (hand-seeded
    RNG — deterministic), including multi-component, hub-heavy, and
    duplicate-edge inputs."""
    import itertools
    import random

    from pydala2_spark.operators.graph import triangle_counts

    rng = random.Random(421)
    for trial in range(6):
        n = rng.randint(4, 9)
        density = rng.choice([0.25, 0.5, 0.8])
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < density
        ]
        if not edges:
            continue
        # inject duplicates and reversals — must not change counts
        edges += [(b, a) for a, b in edges[::3]]
        adj = {i: set() for i in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        expected: dict[int, int] = {}
        for x, y, z in itertools.combinations(range(n), 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                for v in (x, y, z):
                    expected[v] = expected.get(v, 0) + 1
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert got == expected, f"trial {trial}: {got} != {expected}"


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=400), min_size=5, max_size=60
    ),
    splits=st.lists(st.integers(0, 2), min_size=5, max_size=60),
    k=st.integers(min_value=2, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_sample_sketch_merge_pure_function_of_set(vals, splits, k):
    """Driver-side model of the sample-sketch merge law: for ANY
    3-way split of a row set, merging per-slice bottom-k states equals
    the one-shot bottom-k — the property the streaming/mirror tests
    pin on Spark, enumerated here over random corners (duplicated
    hash ordering keys broken by row id, k beyond the set size, empty
    slices)."""
    import hashlib

    rows = [
        (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i, v)
        for i, v in enumerate(vals)
    ]

    def bottom_k(rs):
        return sorted(rs, key=lambda t: (t[0], t[1]))[:k]

    splits = (splits + [0] * len(rows))[: len(rows)]
    slices = [[], [], []]
    for r, s in zip(rows, splits):
        slices[s].append(r)
    merged = bottom_k([x for sl in slices for x in bottom_k(sl)])
    assert merged == bottom_k(rows)


@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=200), min_size=1, max_size=80
    ),
    mu=st.integers(0, 100),
    k=st.integers(0, 10),
)
@settings(max_examples=100, deadline=None)
def test_cusum_prefix_identity_matches_recursion(counts, mu, k):
    """The reset-free identity the streaming CUSUM state relies on:
    g_t = S_t - min(0, min_{j<=t} S_j) equals the textbook recursion
    g_t = max(0, g_{t-1} + (x_t - mu - k)) for every prefix."""
    g_rec = 0
    s = 0
    mins = 0
    for x in counts:
        g_rec = max(0, g_rec + (x - mu - k))
        s += x - mu - k
        mins = min(mins, s)
        assert s - min(0, mins) == g_rec


@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=1000), min_size=1, max_size=60
    ),
    k=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None)
def test_priority_sampling_heavy_certainty_and_exact_small(weights, k):
    """Priority-sampling invariants (driver model of the Spark op):
    every item with w >= tau is sampled; if n <= k the sample is
    everything with tau = 0 and exact weights; estimates never fall
    below the true weight."""
    import hashlib

    items = []
    for i, w in enumerate(weights):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        items.append((i, w, w / u))
    by_pri = sorted(items, key=lambda t: (-t[2], t[0]))
    sample = by_pri[:k]
    tau = by_pri[k][2] if len(by_pri) > k else 0.0
    sampled_ids = {i for i, _, _ in sample}
    for i, w, _ in items:
        if w >= tau:
            assert i in sampled_ids
    for i, w, _ in sample:
        assert max(w, tau) >= w
    if len(items) <= k:
        assert tau == 0.0 and sampled_ids == {i for i, _, _ in items}


def test_attribution_credit_conservation(spark):
    """Law: over any event log, each credit model distributes exactly
    one unit per attributable conversion — so the channel sums total
    the number of conversions whose 7-day window holds >= 1 touch
    (up to the round-12 term / round-4 output grain)."""
    import datetime as dt
    import random

    from pydala2_spark.operators.events import attribution_credit

    rnd = random.Random(23)
    types = ["view", "click", "signup", "purchase", "error"]
    rows = []
    eid = 0
    for uid in range(30):
        for _ in range(rnd.randint(0, 15)):
            eid += 1
            rows.append(
                (
                    eid,
                    uid,
                    dt.datetime(2024, 1, 1)
                    + dt.timedelta(minutes=rnd.randint(0, 20000)),
                    rnd.choice(types),
                )
            )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = attribution_credit(df).collect()
    lin = sum(r["linear_credit"] for r in out)
    pos = sum(r["position_credit"] for r in out)
    # python replay: count conversions with >= 1 in-window touch
    by_user = {}
    for e, u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    expected = 0
    for evs in by_user.values():
        for ts, et in evs:
            if et != "purchase":
                continue
            lo = ts - dt.timedelta(days=7)
            if any(
                t2 < ts and t2 >= lo and e2 in ("view", "click", "signup")
                for t2, e2 in evs
            ):
                expected += 1
    assert abs(lin - expected) < 1e-3
    assert abs(pos - expected) < 1e-3
    # first/last counts each total exactly the attributable conversions
    assert sum(r["n_first"] for r in out) == expected
    assert sum(r["n_last"] for r in out) == expected


def test_distributed_ntile_random_equivalence(spark):
    """Law: distributed_ntile == native ntile for random sizes, ks and
    duplicate-heavy value columns."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pydala2_spark.functions.skew import distributed_ntile

    rnd = random.Random(5)
    for trial in range(3):
        n = rnd.randint(1, 200)
        k = rnd.choice([2, 3, 5, 8, 50])
        rows = [(rnd.randint(0, 9), i) for i in range(n)]  # heavy ties
        df = spark.createDataFrame(rows, "v long, id long")
        got = {
            r["id"]: r["b"]
            for r in distributed_ntile(
                df, [F.asc("v"), F.asc("id")], k, out_col="b", n_partitions=7
            ).collect()
        }
        want = {
            r["id"]: r["b"]
            for r in df.withColumn(
                "b", F.ntile(k).over(Window.orderBy(F.asc("v"), F.asc("id")))
            ).collect()
        }
        assert got == want, (trial, n, k)


def test_modularity_invariants_random(spark):
    """Laws for any partition of any graph: community node counts sum
    to |nodes|, degree sums total 2m, internal edges never exceed m,
    Q <= 1, and the all-singletons partition has zero internal edges."""
    import random

    from pyspark.sql import functions as F

    from pydala2_spark.operators.graph import modularity_report

    rnd = random.Random(31)
    pairs = set()
    while len(pairs) < 40:
        a, b = rnd.randint(0, 19), rnd.randint(0, 19)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    nodes = sorted({x for p in pairs for x in p})
    comm = spark.createDataFrame(
        [(n, rnd.randint(0, 3)) for n in nodes], "node long, community long"
    )
    rows = modularity_report(edges, comm).collect()
    m = len(pairs)
    assert sum(r["n_nodes"] for r in rows) == len(nodes)
    assert sum(r["d_sum"] for r in rows) == 2 * m
    assert sum(r["e_in"] for r in rows) <= m
    q = sum(r["contrib"] for r in rows)
    assert q <= 1.0 + 1e-9
    singles = spark.createDataFrame(
        [(n, n) for n in nodes], "node long, community long"
    )
    srows = modularity_report(edges, singles).collect()
    assert all(r["e_in"] == 0 for r in srows)


def test_ppr_mass_conservation_random(spark):
    """Law: personalized PageRank conserves unit mass on ANY graph —
    teleport plus dangling redistribution returns every escaped unit
    of rank to the seeds, so per-iteration totals stay 1 up to the
    round-12-per-node grain."""
    import random

    from pydala2_spark.operators.graph import personalized_pagerank

    rnd = random.Random(41)
    edges = []
    for _ in range(60):
        a, b = rnd.randint(0, 24), rnd.randint(0, 24)
        if a != b:
            edges.append((a, b, rnd.randint(1, 3)))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame(
        [(n,) for n in {0, 5, 13}], "node long"
    )
    pr = personalized_pagerank(df, seeds, iterations=4).collect()
    total = sum(r["pr"] for r in pr)
    assert abs(total - 1.0) < 1e-8


def test_nb_classifier_partition_law(spark):
    """Law: the confusion matrix partitions the scored population —
    cell counts total exactly the odd-id docs with >= 1 token."""
    import random

    from pydala2_spark.operators.curate import nb_domain_classifier

    rnd = random.Random(53)
    vocab = [f"w{i}" for i in range(20)]
    rows = []
    for i in range(80):
        text = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 8)))
        rows.append((i, rnd.choice(["a", "b", "c"]), text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = nb_domain_classifier(df).collect()
    expected = sum(1 for i, _, t in rows if i % 2 == 1 and t.strip() != "")
    assert sum(r["n_docs"] for r in out) == expected
