"""Text-analysis / dedup / similarity operator contracts."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            # docs 0/1 differ in a token ('cat'/'cow') whose md5 hash
            # is ABOVE the shared min-hash token 'lazy', so the pair
            # stays inside one ngram block under the min-token-hash
            # blocking conjunct (the screen's documented recall model),
            # and their minhash signatures collide in >=1 LSH band
            "text": [
                "the quick brown fox jumps over the lazy cat",
                "the quick brown fox jumps over the lazy cow",  # near-dup of 0
                "the quick brown fox jumps over the lazy cat",  # exact dup of 0
                "completely different words here entirely unique",
                "a a a a a a a a",  # degenerate
            ],
            "lang": ["en"] * 5,
            "n_chars": [43, 43, 43, 47, 15],
        }
    )
    return spark.createDataFrame(pdf)


def test_token_stats(spark, docs):
    from pydala2_spark.functions import text as X

    row = docs.filter("doc_id = 4").select(
        X.token_count().alias("n"), X.unique_token_count().alias("u"), X.type_token_ratio().alias("ttr")
    ).collect()[0]
    assert row["n"] == 8 and row["u"] == 1 and row["ttr"] == pytest.approx(1 / 8)


def test_quality_score_bounds(spark, docs):
    from pydala2_spark.functions.text import quality_score

    vals = [r[0] for r in docs.select(quality_score()).collect()]
    assert all(0 <= v <= 1 for v in vals)
    # degenerate doc scores worst
    scored = {r["doc_id"]: r["q"] for r in docs.select("doc_id", quality_score().alias("q")).collect()}
    assert scored[4] == min(scored.values())


def test_lang_id_deterministic(spark, docs):
    from pydala2_spark.functions.text import lang_id

    out = {r["doc_id"]: r["l"] for r in docs.select("doc_id", lang_id().alias("l")).collect()}
    assert out[0] == "en"  # 'the' markers dominate


def test_exact_duplicates(spark, docs):
    from pydala2_spark.operators.dedup import drop_exact_duplicates, exact_duplicates

    groups = exact_duplicates(docs).filter("n_docs > 1").collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0
    kept = drop_exact_duplicates(docs)
    assert kept.count() == 4
    assert kept.filter("doc_id = 2").count() == 0


def test_minhash_lsh_finds_near_dup(spark, docs):
    from pydala2_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_near_pairs(spark, docs):
    from pydala2_spark.operators.dedup import simhash_near_pairs

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 2)] == 0  # identical text → identical simhash
    # a one-token edit on an 8-token doc shifts many bits — must NOT
    # collapse with the hamming<=3 near-dup band
    assert (0, 3) not in pairs


def test_ngram_blocked_pairs(spark, docs):
    from pydala2_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 2) in pairs


def test_minhash_index_incremental_screen(spark, docs, tmp_path):
    """build_minhash_index + incremental_near_dups: a new batch screens
    against the persisted signature store — corpus text untouched at
    probe time — finding its near-dup in the corpus and passing the
    unrelated doc through."""
    from pydala2_spark.operators.dedup import (
        build_minhash_index,
        incremental_near_dups,
    )

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(spark, docs, idx, num_hashes=12, bands=4, k=3)

    corpus_text = {r["doc_id"]: r["text"] for r in docs.collect()}
    new = spark.createDataFrame(
        [
            # exact copy of corpus doc 0 → certain hit
            (100, corpus_text[0]),
            # unrelated content → no candidate band collision
            (101, "completely different subject matter entirely novel"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["corpus_id"], r["new_id"]): r["est_jaccard"]
        for r in incremental_near_dups(spark, idx, new, threshold=0.5).collect()
    }
    assert got[(0, 100)] == 1.0  # identical text → identical signature
    assert got.get((2, 100)) == 1.0  # doc 2 is doc 0's exact dup in the corpus
    assert not any(n == 101 for _, n in got)

    # the probe reads ONLY index files — corpus text is never scanned
    files = incremental_near_dups(spark, idx, new, threshold=0.5).inputFiles()
    assert files and all("mh_idx" in f for f in files), files


def test_ngram_multiband_recall_dominates_single_band(spark):
    """min_hash_bands=b must be a strict recall upgrade: every pair the
    b=1 screen finds is found at b=4, b=4 recovers pairs b=1 missed
    (recall 1-(1-j)^b > j for j<1), and both stay subsets of the
    exhaustive min_hash_block=False ground truth with one row per pair
    (band-collision duplicates deduped)."""
    from pydala2_spark.operators.dedup import ngram_jaccard_pairs

    # 40 near-dup pairs at j≈0.5-0.6: doc 2i and 2i+1 share 6 of ~10
    # tokens — borderline pairs the single-band screen misses ~half of
    rows = []
    for i in range(40):
        shared = f"s{i}a s{i}b s{i}c s{i}d s{i}e s{i}f"
        rows.append((2 * i, f"{shared} x{i}a x{i}b x{i}c", "en", 30))
        rows.append((2 * i + 1, f"{shared} y{i}a y{i}b y{i}c", "en", 30))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")

    def pair_set(**kw):
        out = ngram_jaccard_pairs(df, threshold=0.5, **kw).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in out]
        assert len(pairs) == len(set(pairs)), "duplicate pair rows"
        return set(pairs)

    truth = pair_set(min_hash_block=False)
    b1 = pair_set(min_hash_bands=1)
    b4 = pair_set(min_hash_bands=4)
    assert truth == {(2 * i, 2 * i + 1) for i in range(40)}
    assert b1 <= b4 <= truth
    assert len(b4) > len(b1), (len(b1), len(b4))


def test_ngram_block_key_bounded_on_skew(spark):
    """The min-token-hash conjunct must split a hot (lang, length)
    bucket: a skewed corpus where every doc shares lang and length
    bucket but content differs may not collapse into one block."""
    from pydala2_spark.operators.dedup import ngram_jaccard_pairs

    n = 400
    rows = [
        # same lang, same length bucket, mostly-distinct token sets
        (i, f"w{i}a w{i}b w{i}c w{i}d shared", "en", 30)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")

    # reconstruct the operator's block key and measure block sizes
    from pyspark.sql import functions as F

    key = df.select(
        F.floor(F.col("n_chars") / 25).alias("lb"),
        F.col("lang"),
        F.array_min(
            F.transform(
                F.array_distinct(F.split("text", " ")),
                lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            )
        ).alias("mb"),
    )
    sizes = key.groupBy("lang", "lb", "mb").count()
    largest = sizes.agg(F.max("count")).first()[0]
    # without mb the single (en, 1) bucket holds all 400 docs -> O(n^2);
    # with it the hot bucket must shrink by an order of magnitude
    assert largest <= n // 10

    # and the screen still finds true near-dups that share rare tokens
    near = spark.createDataFrame(
        [
            (1000, "alpha beta gamma delta epsilon", "en", 30),
            (1001, "alpha beta gamma delta zeta", "en", 27),
        ],
        "doc_id long, text string, lang string, n_chars int",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df.unionByName(near), threshold=0.5).collect()
    }
    assert (1000, 1001) in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(4, 8).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], i % 2))
    # vec 4 = near-copy of vec 0
    rows.append((4, [float(x) for x in base[0] + 0.01], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk(spark, vectors):
    from pydala2_spark.operators.similarity import cosine_topk

    out = cosine_topk(vectors, vectors.filter("vec_id = 0"), k=2, exclude_self=True).collect()
    assert [r["neighbor_id"] for r in out] == [4, out[1]["neighbor_id"]]
    assert out[0]["cosine"] > 0.99


def test_embedding_near_duplicates(spark, vectors):
    from pydala2_spark.operators.dedup import embedding_near_duplicates

    pairs = embedding_near_duplicates(vectors, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 4)]


def test_srp_bucket_groups_near_dups(spark, vectors):
    from pydala2_spark.operators.similarity import srp_bucket

    b = {
        r["vec_id"]: r["b"]
        for r in vectors.select("vec_id", srp_bucket("embedding", num_planes=6, dim=8).alias("b")).collect()
    }
    assert b[0] == b[4]  # near-identical vectors land in the same bucket


def test_label_centroids(spark, vectors):
    from pydala2_spark.operators.similarity import label_centroids

    cents = label_centroids(vectors, dim=8).collect()
    assert len(cents) == 2
    assert all(len(r["centroid"]) == 8 for r in cents)


def test_cosine_topk_ivf_routes_and_ranks(spark, vectors):
    from pydala2_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    from pyspark.sql import functions as F

    queries = vectors.filter(F.col("vec_id") < 3)
    exact = cosine_topk(vectors, queries, k=3)
    approx = cosine_topk_ivf(vectors, queries, k=3, nprobe=2)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx.collect()}
    assert len(got) > 0
    # every reported neighbor must carry a valid rank sequence per query
    by_q = {}
    for (q, rank), n in got.items():
        by_q.setdefault(q, []).append(rank)
    assert all(sorted(rs) == list(range(1, len(rs) + 1)) for rs in by_q.values())
    # with nprobe = all cells the result should equal the exact top-k
    n_cells = vectors.select("label").distinct().count()
    full = cosine_topk_ivf(vectors, queries, k=3, nprobe=n_cells)
    assert sorted(map(str, full.collect())) == sorted(map(str, exact.collect()))


def test_salted_join_matches_plain_join(spark):
    import pandas as pd

    from pydala2_spark.functions.skew import salted_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 50 + [2] * 5, "lv": range(55)})  # key 1 is hot
    )
    right = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "rv": ["a", "b", "c"]}))
    plain = left.join(right, "k").select("k", "lv", "rv")
    salted = salted_join(left, right, "k", salt=4).select("k", "lv", "rv")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_extract_audio_features_shape(spark):
    import numpy as np

    from pydala2_spark.operators.multimodal import encode_wav_pcm16, extract_audio_features

    rates = [8000, 16000, 22050, 44100]
    wavs = [
        (i, encode_wav_pcm16(np.arange(rates[i] // 10, dtype=np.int16) * 7, rates[i]))
        for i in range(4)
    ]
    text = [(i, f"audio-{i}".encode() * 10) for i in range(4, 6)]
    df = spark.createDataFrame(wavs + text, "id long, blob binary")
    out = extract_audio_features(df, "blob", passthrough=["id"], n_mfcc=13).collect()
    assert len(out) == 6
    for r in out:
        if r["id"] < 4:
            assert r["sample_rate"] == rates[r["id"]]
            assert r["duration_ms"] == 100 and r["n_channels"] == 1
            assert len(r["mfcc"]) == 13 and r["decode_error"] is None
        else:
            assert r["sample_rate"] is None and r["mfcc"] is None
            assert r["decode_error"] == "unrecognized audio container"


def test_duplicate_clusters_transitive(spark):
    from pydala2_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3 (1~3 NOT a pair) + clique {10,11} + isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    rows = {r.doc_id: r for r in duplicate_clusters(pairs).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id == 1
    assert rows[1].cluster_size == 3
    assert rows[10].cluster_id == rows[11].cluster_id == 10
    assert rows[10].cluster_size == 2
    assert rows[20].cluster_id == 20 and rows[21].cluster_size == 2
    assert len(rows) == 7


def test_duplicate_clusters_long_chain_converges(spark):
    from pydala2_spark.operators.dedup import duplicate_clusters

    # path graph 0-1-...-9, forced onto the distributed label-propagation
    # path (driver_edge_limit=0): worst case for propagation (diameter 9)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    out = duplicate_clusters(pairs, driver_edge_limit=0).collect()
    assert {r.cluster_id for r in out} == {0}
    assert all(r.cluster_size == 10 for r in out)


def test_duplicate_clusters_paths_agree(spark):
    from pydala2_spark.operators.dedup import duplicate_clusters

    # driver union-find and distributed propagation produce identical
    # clusters on a mixed graph (chain + clique + singleton pair)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    driver = sorted(map(tuple, duplicate_clusters(pairs).collect()))
    dist = sorted(map(tuple, duplicate_clusters(pairs, driver_edge_limit=0).collect()))
    assert driver == dist


def test_curate_corpus_dispositions(spark, docs):
    from pydala2_spark.operators.curate import curate_corpus

    out = dict(
        curate_corpus(docs, min_quality=0.0, langs=("en",)).collect()
    )
    # doc 2 is byte-identical to doc 0 -> exact_dup (0 is the keeper);
    # doc 1 differs from doc 0 by one token -> near_dup of keeper 0;
    # 3 and 4 are unique; quality gate disabled via min_quality=0.
    assert out == {0: "kept", 1: "near_dup", 2: "exact_dup", 3: "kept", 4: "kept"}


def test_curate_corpus_quality_gate(spark, docs):
    from pydala2_spark.operators.curate import curate_corpus

    out = dict(curate_corpus(docs, min_quality=0.99, langs=("en",)).collect())
    assert set(out.values()) == {"low_quality"}
    assert len(out) == 5


def test_curate_corpus_leaves_no_cached_frame(spark, docs):
    """curate_corpus returns a lazy frame; the intermediate frames it
    shares between branches must not stay pinned in the session's
    cache manager, where they could be substituted into unrelated
    later plans."""
    from pydala2_spark.operators.curate import curate_corpus

    spark.catalog.clearCache()
    curate_corpus(docs, min_quality=0.0, langs=("en",)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bpe_token_count(spark):
    from pyspark.sql import functions as F

    from pydala2_spark.functions.text import bpe_token_count, bpe_tokens

    df = spark.createDataFrame(
        [("it's a test, really!",), ("no punct here",)], ["text"]
    )
    rows = df.select(
        bpe_tokens("text").alias("t"), bpe_token_count("text").alias("n")
    ).collect()
    # it | 's | a | test | , | really | !
    assert rows[0]["t"] == ["it", "'s", "a", "test", ",", "really", "!"]
    assert rows[0]["n"] == 7
    assert rows[1]["n"] == 3


def test_winnowing_guarantee(spark):
    """Winnowing contract: two documents sharing a run of >= k+w-1
    tokens must share at least one fingerprint."""
    from pyspark.sql import functions as F

    from pydala2_spark.functions.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = 5+4-1 tokens
    df = spark.createDataFrame(
        [
            (1, "intro words here " + shared),
            (2, shared + " completely different tail text"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r["doc_id"]: set(r["f"])
        for r in df.select(
            "doc_id", winnowing_fingerprints("text", k=5, w=4).alias("f")
        ).collect()
    }
    assert fps[1] & fps[2], "shared 8-token run must produce a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_quantize_roundtrip_bound(spark, vectors):
    """int8 quantization: every reconstructed element is within half a
    quantization step of the original."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.similarity import dequantize_expr, quantize_embeddings

    q = quantize_embeddings(vectors)
    err = F.expr(
        "array_max(zip_with(embedding, __dq, (x, y) -> abs(cast(x as double) - y)))"
    )
    rows = (
        q.withColumn("__dq", dequantize_expr("q", "q_min", "q_scale"))
        .select("vec_id", err.alias("e"), "q_scale")
        .collect()
    )
    assert rows and all(r["e"] <= r["q_scale"] / 2 + 1e-9 for r in rows)


def test_redact_pii(spark):
    from pydala2_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [("mail me at a.b+c@example.com or visit https://x.io/y?z=1 from 10.0.0.1",)],
        ["text"],
    )
    r = df.select(
        redact_pii().alias("clean"),
        pii_count("email").alias("ne"),
        pii_count("url").alias("nu"),
        pii_count("ipv4").alias("ni"),
    ).first()
    assert r["ne"] == 1 and r["nu"] == 1 and r["ni"] == 1
    assert "@" not in r["clean"] and "https" not in r["clean"] and "10.0.0.1" not in r["clean"]
    assert r["clean"].count("[REDACTED]") == 3


# -- curation pipeline extensions (round 3) ----------------------------


def test_contamination_screen_detects_planted_overlap(spark):
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import contamination_screen

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words then {leak} trailing text here"),
            (2, "totally unrelated content with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark question: {leak} answer choices follow")],
        "doc_id long, text string",
    )
    out = contamination_screen(corpus, bench, k=8)
    rows = {r["doc_id"]: r["n_shared_ngrams"] for r in out.collect()}
    assert 1 in rows and rows[1] >= 1
    assert 2 not in rows
    # the benchmark side must broadcast: the corpus is never shuffled
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import pack_sequences

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", "tok " * (50 + i)) for i in range(40)],
        "doc_id long, lang string, text string",
    ).withColumn("text", F.rtrim("text"))
    packed = pack_sequences(docs, budget=512)
    total_in = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).first()["n"]
    agg = packed.agg(
        F.sum("seq_tokens").alias("tok"), F.sum("n_docs").alias("docs")
    ).first()
    assert agg["tok"] == total_in and agg["docs"] == 40  # nothing dropped
    # seq ids start at 0 and are contiguous per group
    for lang in ("en", "de"):
        ids = sorted(
            r["seq_id"] for r in packed.filter(F.col("lang") == lang).collect()
        )
        assert ids == list(range(len(ids)))


def test_stratified_sample_deterministic(spark):
    from pydala2_spark.operators.curate import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(3000)],
        "doc_id long, lang string",
    )
    a = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.1}).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.1}).collect()}
    assert a == b  # md5 coin, not rand(): identical on re-run
    n_en = docs.filter("lang = 'en'").count()
    n_en_kept = len([i for i in a if i % 3])
    assert 0.05 * n_en < n_en_kept < 0.15 * n_en  # ~10% of the stratum
    assert len([i for i in a if i % 3 == 0]) == 1000  # 'de' fully kept


def test_duplicate_ngram_fraction_separates_loops(spark):
    from pyspark.sql import functions as F

    from pydala2_spark.functions.text import duplicate_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 30),  # generation loop
            (2, "each word appears exactly once in this natural sentence"),
        ],
        "doc_id long, text string",
    ).withColumn("text", F.rtrim("text"))
    out = {
        r["doc_id"]: r["f"]
        for r in spark.createDataFrame(
            docs.select("doc_id", duplicate_ngram_fraction().alias("f")).collect()
        ).collect()
    }
    assert out[1] > 0.9 and out[2] == 0.0


def test_ivf_index_build_probe_and_prune(spark, tmp_path):
    """Persisted IVF: the probe must (a) agree with the transient IVF
    ranking inside probed cells, and (b) physically read only the
    probed cell partitions (hive partition pruning)."""
    import numpy as np

    from pydala2_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_indexed,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(200)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    cents = build_ivf_index(spark, corpus, path, srp_planes=3, dim=8)
    assert cents.count() <= 8  # 2^3 cells

    queries = corpus.filter("vec_id < 3")
    out = cosine_topk_ivf_indexed(spark, path, queries, k=4, nprobe=2)
    got = out.collect()
    assert len(got) == 12  # 3 queries x 4 neighbors
    for r in got:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.001 <= r["cosine"] <= 1.001

    # partition pruning: the probed scan physically touches only the
    # routed cells' files (input_file_name over the filtered scan),
    # not all 2^3 partitions
    from pyspark.sql import functions as F

    touched = [
        r[0]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert touched and all("/cell=0/" in f or "/cell=1/" in f for f in touched)


def test_chunk_documents_covers_all_tokens(spark):
    """Stride-32/size-64 chunking must cover every token (tail kept)
    and successive chunks overlap by size - stride."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(150))), (2, "a b c")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, size=64, stride=32)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: chunks at offsets 0/32/64/96 -> ceil((150-64)/32)+1 = 4
    assert len(by_doc[1]) == 4
    last = max(by_doc[1], key=lambda r: r["chunk_id"])
    assert last["chunk_id"] * 32 + last["n_chunk_tokens"] == 150  # tail covered
    # short doc: one whole-doc chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 3
    # overlap: chunk 1 starts 32 tokens in, repeats tokens 32..63
    c0, c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])[:2]
    assert c0["chunk_text"].split()[32:] == c1["chunk_text"].split()[:32]


# -- k-means -----------------------------------------------------------


@pytest.fixture(scope="module")
def blobs(spark):
    """Two well-separated gaussian blobs in 8-d, 30 points each."""
    import numpy as np

    rng = np.random.RandomState(11)
    a = rng.randn(30, 8).astype("float32") * 0.1 + 5.0
    b = rng.randn(30, 8).astype("float32") * 0.1 - 5.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(list(a) + list(b))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_separated_blobs(spark, blobs):
    from pydala2_spark.operators.similarity import kmeans_lloyd

    assigned, cents = kmeans_lloyd(blobs, k=2, iters=3, dim=8)
    rows = assigned.collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r["cid"], set()).add(r["vec_id"])
    # the two blobs are ids 0-29 and 30-59; clusters must match exactly
    assert sorted(len(v) for v in by_cid.values()) == [30, 30]
    assert set(range(30)) in by_cid.values()
    assert len(cents) == 2 and all(len(c) == 8 for _, c in cents)


def test_kmeans_assign_false_returns_same_centroids(spark, blobs):
    """assign=False is the fit-only fast path (semantic_dedup attaches
    cids itself as a scan-stage projection): it must return (None,
    cents) with cents IDENTICAL to the assign=True fit — same seeds,
    same decimal-accumulated means."""
    from pydala2_spark.operators.similarity import kmeans_lloyd

    full_assigned, full_cents = kmeans_lloyd(blobs, k=2, iters=2, dim=8)
    none_assigned, fit_cents = kmeans_lloyd(
        blobs, k=2, iters=2, dim=8, assign=False
    )
    assert none_assigned is None
    assert fit_cents == full_cents
    assert full_assigned.count() == 60


def test_kmeans_inertia_non_increasing(spark, blobs):
    from pyspark.sql import functions as F

    from pydala2_spark.operators.similarity import kmeans_lloyd

    inertias = []
    for iters in (1, 2, 3):
        assigned, _ = kmeans_lloyd(blobs, k=2, iters=iters, dim=8)
        inertias.append(assigned.agg(F.sum("d")).first()[0])
    assert inertias[0] >= inertias[1] - 1e-9
    assert inertias[1] >= inertias[2] - 1e-9


def test_kmeans_assignment_is_scan_stage(spark, blobs):
    """The ASSIGN step must be a projection over the corpus scan —
    no join, no Exchange: the centroid literal rides inside the
    expression. (The UPDATE step's single k*dim-group agg is the only
    shuffle per iteration.)"""
    from pydala2_spark.operators.similarity import (
        _assign_expr,
        _centroid_literal_sql,
    )
    from pyspark.sql import functions as F

    e = blobs.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    cents = [(0, [0.0] * 8), (1, [1.0] * 8)]
    plan = (
        e.withColumn("__am", _assign_expr(_centroid_literal_sql(cents)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


# -- TF-IDF ------------------------------------------------------------


def test_tfidf_top_terms_hand_case(spark):
    from pydala2_spark.operators.curate import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "spark spark engine"),
            (2, "spark table"),
            (3, "table table motor"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in tfidf_top_terms(df, top_n=2, min_len=4).collect()
    }
    # doc 1: 'spark' tf=2 df=2 idf=ln(1.5) beats 'engine' tf=1 df=1?
    # scores: spark 2*ln(3/2)=0.81, engine 1*ln(3)=1.0986 -> engine first
    assert out[(1, 1)][0] == "engine"
    assert out[(1, 2)] == ("spark", 2, 2)
    # doc 3: 'motor' df=1 idf=ln(3); 'table' tf=2 df=2
    assert out[(3, 1)][0] == "motor"


def test_tfidf_no_python_nodes(spark, docs):
    from pydala2_spark.operators.curate import tfidf_top_terms

    plan = (
        tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- cross-document segment duplication -------------------------------


def test_cross_doc_segment_dups_hand_case(spark):
    from pydala2_spark.operators.dedup import cross_doc_segment_dups

    df = spark.createDataFrame(
        [
            # doc 1 and 2 share their first 3-token segment; second
            # segments are unique; doc 3 shares nothing
            (1, "a b c x y z"),
            (2, "a b c p q r"),
            (3, "m n o u v w"),
            (4, "xy"),  # shorter than one segment -> absent from output
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in cross_doc_segment_dups(df, k=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_segs"] == 2 and out[1]["n_dup"] == 1
    assert out[2]["dup_frac"] == 0.5
    assert out[3]["n_dup"] == 0 and out[3]["dup_frac"] == 0.0


def test_quantized_rerank_matches_exact_topk(spark, blobs):
    """Two-stage retrieval (int8 shortlist -> exact re-rank) must
    recover the exact top-k: with shortlist >> k the ~1/255
    quantization error cannot push a true neighbor out of the
    shortlist on this geometry."""
    from pydala2_spark.operators.similarity import cosine_topk, cosine_topk_rerank

    qs = blobs.filter("vec_id < 3")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(blobs, qs, k=5).collect()
    }
    two_stage = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_rerank(blobs, qs, k=5, shortlist=20).collect()
    }
    assert two_stage == exact


def test_kmeans_join_path_matches_literal_path(spark, blobs, monkeypatch, vector_loop):
    """Above _KMEANS_LITERAL_LIMIT the assignment switches from the
    SQL-literal projection to a broadcast join + min-struct reduce;
    both must produce identical assignments and centroids (on the
    driver path the limit changes nothing, and the same holds)."""
    import pydala2_spark.operators.similarity as S

    lit_assigned, lit_cents = S.kmeans_lloyd(blobs, k=2, iters=2, dim=8)
    lit = {(r["vec_id"], r["cid"]) for r in lit_assigned.collect()}
    monkeypatch.setattr(S, "_KMEANS_LITERAL_LIMIT", 0)
    join_assigned, join_cents = S.kmeans_lloyd(blobs, k=2, iters=2, dim=8)
    got = {(r["vec_id"], r["cid"]) for r in join_assigned.collect()}
    assert got == lit
    assert join_cents == lit_cents


# -- media blockhash near-dup ------------------------------------------


def test_media_near_duplicates_planted_pair(spark):
    from pydala2_spark.operators.multimodal import media_near_duplicates

    base = "x" * 480
    rows = [
        (1, base),
        (2, base[:-10] + "Y" * 10),  # last slices perturbed -> few bits flip
        (3, "completely different payload " * 16),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob string")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in media_near_duplicates(df, "blob", max_hamming=3).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] <= 3


def test_hamming_near_pairs_rejects_bad_chunking(spark):
    import pytest as _pytest

    from pydala2_spark.operators.dedup import hamming_near_pairs

    df = spark.createDataFrame([(1, 0)], "doc_id long, h long")
    with _pytest.raises(ValueError):
        hamming_near_pairs(df, "h", max_hamming=4, chunks=4)


def test_blockhash_locality(spark):
    """Payloads differing in one slice differ in O(1) bits; unrelated
    payloads differ in ~half the bits."""
    from pydala2_spark.operators.multimodal import blockhash48

    rows = [
        (1, "a" * 960),
        (2, "a" * 940 + "b" * 20),   # tail slice edit
        (3, "q" * 960),              # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob string")
    h = {r["doc_id"]: r["bh"] for r in df.select("doc_id", blockhash48("blob").alias("bh")).collect()}
    near = bin(h[1] ^ h[2]).count("1")
    far = bin(h[1] ^ h[3]).count("1")
    assert near <= 4
    assert far >= 12


def test_kmeans_guards_and_small_corpus(spark):
    import pytest as _pytest

    from pydala2_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        kmeans_lloyd(df, k=0, dim=2)
    with _pytest.raises(ValueError):
        kmeans_lloyd(df, k=2, iters=-1, dim=2)
    with _pytest.raises(ValueError):
        kmeans_lloyd(df.filter("vec_id > 99"), k=2, dim=2, persist=False)
    # corpus smaller than k: fit proceeds with |corpus| centroids
    assigned, cents = kmeans_lloyd(df, k=5, iters=1, dim=2)
    assert len(cents) == 2
    assert assigned.count() == 2


def test_boilerplate_removal_guards_and_short_docs(spark):
    import pytest as _pytest

    from pydala2_spark.operators.dedup import remove_boilerplate_segments

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError):
        remove_boilerplate_segments(df, k=0)
    with _pytest.raises(ValueError):
        remove_boilerplate_segments(df, min_docs=0)
    # both docs are shorter than k: all-tail, kept verbatim even
    # though the texts are identical (segments, not whole docs, dedup)
    out = {
        r["doc_id"]: (r["cleaned"], r["n_kept"], r["n_dropped"])
        for r in remove_boilerplate_segments(df, k=3, min_docs=2).collect()
    }
    assert out == {1: ("a b", 2, 0), 2: ("a b", 2, 0)}


def test_source_quota_cap(spark):
    import pytest as _pytest

    from pydala2_spark.operators.curate import source_quota_cap

    df = spark.createDataFrame(
        [
            # (doc_id, source, q): src0 has 4 docs, src1 has 2
            (1, "src0", 0.9),
            (2, "src0", 0.7),
            (3, "src0", 0.8),
            (4, "src0", 0.7),
            (5, "src1", 0.5),
            (6, "src1", 0.6),
        ],
        "doc_id long, source string, q double",
    )
    with _pytest.raises(ValueError):
        source_quota_cap(df, cap=0)

    # cap 2 by quality desc: src0 keeps 0.9 and 0.8; the 0.7 tie is
    # broken by doc_id asc so doc 2 would win over doc 4 at cap 3
    top = source_quota_cap(df, cap=2, order_col="q", descending=True)
    assert {r["doc_id"] for r in top.collect()} == {1, 3, 5, 6}
    top3 = source_quota_cap(df, cap=3, order_col="q", descending=True)
    assert {r["doc_id"] for r in top3.filter("source = 'src0'").collect()} == {1, 2, 3}
    # groups under the cap pass through whole; schema is unchanged
    assert set(top.columns) == {"doc_id", "source", "q"}
    # deterministic across runs
    a = sorted(r["doc_id"] for r in top.collect())
    b = sorted(
        r["doc_id"]
        for r in source_quota_cap(df, cap=2, order_col="q", descending=True).collect()
    )
    assert a == b


def test_unigram_logprob_orders_typical_above_rare(spark):
    """Documents made of corpus-frequent tokens must outscore documents
    of hapaxes, and the weighted mean must equal a python reference."""
    import math

    from pydala2_spark.operators.curate import unigram_logprob_scores

    texts = {
        1: "the cat sat on the mat",
        2: "the dog sat on the mat",
        3: "zxqv wkjh qpzm xylo",  # hapax soup
        4: "the the the the",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob_scores(df).collect()
    }

    toks = {d: t.split(" ") for d, t in texts.items()}
    allt = [t for ts in toks.values() for t in ts]
    n = len(allt)
    cnt = {t: allt.count(t) for t in set(allt)}
    for d, ts in toks.items():
        want = sum(math.log(cnt[t] / n) for t in ts) / len(ts)
        assert got[d][0] == len(ts)
        assert abs(got[d][1] - round(want, 4)) <= 1e-4
    # typical docs above the hapax doc; all-stopword doc scores highest
    assert got[4][1] > got[1][1] > got[3][1]
    assert got[2][1] > got[3][1]


def test_duplicated_substring_spans_merges_maximal_intervals(spark):
    """Sliding k-gram duplicate positions must merge into MAXIMAL
    spans: a passage shared at different offsets in two docs yields one
    span per doc covering exactly the shared run; disjoint repeats stay
    separate spans; clean docs report 0 with full row presence."""
    from pydala2_spark.operators.dedup import duplicated_substring_spans

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    texts = {
        1: f"one two {shared} three four",  # run at pos 3..8
        2: f"{shared} nine ten eleven twelve",  # run at pos 1..6
        3: "p q r s t u v w x y",  # clean
        # doc 4: the SAME run twice, separated — two spans
        4: f"{shared} mid1 mid2 mid3 {shared}",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_tokens"], r["dup_frac"])
        for r in duplicated_substring_spans(df, k=3, min_docs=2).collect()
    }
    # doc 3 present with zeros
    assert got[3] == (10, 0, 0, 0.0)
    # shared run is 6 tokens → one maximal span of 6 in docs 1 and 2
    assert got[1][1] == 1 and got[1][2] == 6
    assert got[2][1] == 1 and got[2][2] == 6
    assert got[1][0] == 10 and got[1][3] == 0.6
    # doc 4 has the run twice, separated by 3 unique tokens → 2 spans
    assert got[4][1] == 2 and got[4][2] == 12


def test_bigram_logprob_penalizes_shuffled_word_salad(spark):
    """The conditional bigram score must (a) equal a python reference,
    (b) rank a natural-transition document above a shuffled one built
    from the SAME tokens (the case a unigram screen cannot separate),
    and (c) omit documents with fewer than 2 tokens."""
    import math

    from pydala2_spark.operators.curate import bigram_logprob_scores

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the rug",
        3: "mat the on sat cat the",  # same tokens as 1, shuffled
        4: "solo",  # < 2 tokens — absent from output
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob_scores(df).collect()
    }
    assert 4 not in got

    toks = {d: t.split(" ") for d, t in texts.items() if len(t.split(" ")) >= 2}
    bigr = {d: list(zip(ts, ts[1:])) for d, ts in toks.items()}
    allb = [b for bs in bigr.values() for b in bs]
    cbw = {b: allb.count(b) for b in set(allb)}
    cp = {}
    for (p, _), c in cbw.items():
        cp[p] = cp.get(p, 0) + c
    for d, bs in bigr.items():
        want = sum(math.log(cbw[b] / cp[b[0]]) for b in bs) / len(bs)
        assert got[d][0] == len(bs)
        assert abs(got[d][1] - round(want, 4)) <= 1e-4
    # natural transitions outrank the shuffle of the same tokens
    assert got[1][1] > got[3][1]


def test_train_test_split_deterministic_and_stable_under_refilter(spark):
    """The split must be a pure function of (salt, id): identical
    across runs, unchanged when the corpus is re-filtered (no document
    migrates between train and test), fractions approximately honored,
    and salt rotation reassigns."""
    import pytest as _pytest

    from pydala2_spark.operators.curate import train_test_split

    df = spark.range(0, 4000).selectExpr("id AS doc_id", "'x' AS payload")
    out = train_test_split(df, test_fraction=0.1, val_fraction=0.05, salt="s1")
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in train_test_split(
            df, test_fraction=0.1, val_fraction=0.05, salt="s1"
        ).collect()
    }
    assert a == b  # run-to-run determinism
    frac = {s: sum(1 for v in a.values() if v == s) / len(a) for s in set(a.values())}
    assert abs(frac["test"] - 0.10) < 0.02 and abs(frac["val"] - 0.05) < 0.02
    # re-filtering the corpus must not move any surviving doc's split
    sub = train_test_split(
        df.filter("doc_id % 3 = 0"), test_fraction=0.1, val_fraction=0.05, salt="s1"
    )
    for r in sub.collect():
        assert a[r["doc_id"]] == r["split"]
    # salt rotation produces a genuinely different assignment
    c = {
        r["doc_id"]: r["split"]
        for r in train_test_split(
            df, test_fraction=0.1, val_fraction=0.05, salt="s2"
        ).collect()
    }
    assert c != a
    with _pytest.raises(ValueError):
        train_test_split(df, test_fraction=0.9, val_fraction=0.2)
    with _pytest.raises(ValueError):
        train_test_split(df, test_fraction=-0.1)

    # the split coin must be DOMAIN-SEPARATED from the sampling coin:
    # composing a 20% stratified sample with a 10% test split must
    # still yield ~10% test among survivors (a shared md5 would put
    # 50% of the sampled docs in test)
    from pydala2_spark.operators.curate import stratified_sample

    df2 = spark.range(0, 10000).selectExpr("id AS doc_id", "'en' AS lang")
    sampled = stratified_sample(df2, rates={"en": 0.2}, group_col="lang")
    split = train_test_split(sampled, test_fraction=0.1)
    rows = split.groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in rows}
    n = sum(counts.values())
    assert abs(counts.get("test", 0) / n - 0.10) < 0.03


def test_semantic_dedup_external_assignments(spark):
    """assignments= must bypass the internal Lloyd fit and produce
    identical verdicts when handed the same assignment frame — the
    O(n) blocker injection point for scale (SRP cells / stored IVF)."""
    import numpy as np

    from pydala2_spark.operators.dedup import semantic_dedup
    from pydala2_spark.operators.similarity import kmeans_lloyd, srp_bucket

    rng = np.random.default_rng(5)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    internal = {
        (r["vec_id"], r["cid"], r["is_dup"])
        for r in semantic_dedup(df, k=3, iters=2, threshold=0.95, dim=8).collect()
    }
    assigned, _ = kmeans_lloyd(df, k=3, iters=2, dim=8)
    external = {
        (r["vec_id"], r["cid"], r["is_dup"])
        for r in semantic_dedup(
            df, threshold=0.95, dim=8, assignments=assigned
        ).collect()
    }
    assert internal == external

    # SRP cells work as a drop-in blocker; exact copies share buckets
    # by construction, so every planted copy is flagged
    cells = df.select("vec_id", srp_bucket("embedding", 2, 8).alias("cid"))
    srp = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup(
            df, threshold=0.95, dim=8, assignments=cells
        ).collect()
    }
    assert all(srp[100 + i] for i in range(5))


def test_semantic_dedup_partial_assignments_keep_all_rows(spark):
    """A PARTIAL assignments frame must not silently drop the
    uncovered vectors (the documented one-row-per-input contract):
    they surface with cid null and is_dup false — conservatively
    kept, never paired."""
    import numpy as np

    from pydala2_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(11)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(20)]
    rows += [(100, rows[0][1]), (101, rows[1][1])]  # exact copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # cover only ids < 50 plus copy 100 — copy 101 and its original
    # partner stay covered/uncovered asymmetrically
    partial = df.filter("vec_id < 50 or vec_id = 100").selectExpr(
        "vec_id", "cast(0 as int) as cid"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, threshold=0.95, dim=8, assignments=partial
        ).collect()
    }
    assert set(out) == {i for i in range(20)} | {100, 101}  # no row lost
    assert out[101]["cid"] is None and out[101]["is_dup"] is False
    assert out[100]["is_dup"] is True  # covered copy still flagged


def test_semantic_dedup_auto_srp_above_literal_limit(spark):
    """When assignments is absent and k*dim crosses
    _KMEANS_LITERAL_LIMIT (the measured 39x-at-100x Lloyd cliff), the
    quantizer auto-switches to SRP cells — result-identical to passing
    the same SRP assignment frame explicitly."""
    import math

    import numpy as np

    from pydala2_spark.operators.dedup import semantic_dedup
    from pydala2_spark.operators.similarity import (
        _KMEANS_LITERAL_LIMIT,
        srp_bucket,
    )

    rng = np.random.default_rng(7)
    dim = 64
    rows = [(i, [float(v) for v in rng.normal(size=dim)]) for i in range(40)]
    rows += [(200 + i, rows[i][1]) for i in range(4)]  # exact copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    k = _KMEANS_LITERAL_LIMIT // dim + 1  # first k that crosses the limit
    assert k * dim > _KMEANS_LITERAL_LIMIT
    auto = {
        (r["vec_id"], r["cid"], r["is_dup"], r["max_cos"])
        for r in semantic_dedup(df, k=k, threshold=0.95, dim=dim).collect()
    }
    planes = max(1, math.ceil(math.log2(max(2, k))))
    cells = df.select("vec_id", srp_bucket("embedding", planes, dim).alias("cid"))
    explicit = {
        (r["vec_id"], r["cid"], r["is_dup"], r["max_cos"])
        for r in semantic_dedup(
            df, threshold=0.95, dim=dim, assignments=cells
        ).collect()
    }
    assert auto == explicit
    # exact copies share every SRP bucket → all flagged on the auto path
    flagged = {v for v, _, d, _ in auto if d}
    assert {200 + i for i in range(4)} <= flagged


# -- BM25 retrieval ----------------------------------------------------


def test_bm25_hand_case(spark):
    """Okapi BM25 against a hand-computed corpus: three docs, query
    'spark table'; N=3, avgdl known, idf/tf/length-norm all checked
    numerically."""
    import math

    from pydala2_spark.operators.curate import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark spark engine"),  # dl 3
            (2, "spark table"),  # dl 2
            (3, "table table motor desk"),  # dl 4
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bm25"] for r in bm25_search(df, "spark table").collect()}
    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75

    def s(tf, dl, dfreq):
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out[1] == round(s(2, 3, 2), 4)  # spark tf=2
    assert out[2] == round(s(1, 2, 2) + s(1, 2, 2), 4)  # both terms once
    assert out[3] == round(s(2, 4, 2), 4)  # table tf=2
    # top_k + tiebreaker ordering
    top = bm25_search(df, "spark table", top_k=1).collect()
    assert len(top) == 1 and top[0]["doc_id"] == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(df, [])


def test_bm25_no_python_nodes_and_topk_plan(spark, docs):
    from pydala2_spark.operators.curate import bm25_search

    plan = (
        bm25_search(docs, "spark join", top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # distributed partial top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


# -- DSIR importance resampling ---------------------------------------


def test_dsir_resample_prefers_target_like_docs(spark):
    """Docs made of target-domain tokens must out-weigh docs made of
    off-domain tokens; weights are deterministic (re-run equality) and
    the Gumbel keys are reproducible md5 values."""
    from pydala2_spark.operators.curate import dsir_resample

    rows = [(i, "alpha beta gamma delta") for i in range(10)] + [
        (i, "zig zag zig zag") for i in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter("doc_id < 10")  # alpha/beta corpus
    out = dsir_resample(df, target, n=20).collect()
    w = {r["doc_id"]: r["log_weight"] for r in out}
    assert min(w[i] for i in range(10)) > max(w[i] for i in range(10, 20))
    # selection is exactly the top-n by key with doc_id tiebreak
    keys = [(r["gumbel_key"], r["doc_id"]) for r in out]
    assert keys == sorted(keys, key=lambda t: (-t[0], t[1]))
    # deterministic: a second run returns identical rows
    again = dsir_resample(df, target, n=20).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # n truncates: only the 5 highest keys survive
    top5 = dsir_resample(df, target, n=5).collect()
    assert len(top5) == 5
    assert {r["doc_id"] for r in top5} == {t[1] for t in sorted(keys, key=lambda t: (-t[0], t[1]))[:5]}


def test_dsir_no_python_nodes(spark, docs):
    from pydala2_spark.operators.curate import dsir_resample

    plan = (
        dsir_resample(docs, docs.filter("lang = 'en'"), n=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


# -- Gopher quality rules ----------------------------------------------


def test_gopher_rules_hand_cases(spark):
    """Each published rule (Rae et al. 2021 Appendix A) trips on a
    crafted document while the clean document passes everything."""
    from pydala2_spark.functions.text import gopher_rules

    clean = "the quick brown fox jumps over and over with great care " * 3
    rows = [
        (1, clean.strip()),  # passes all (33 words, stops present)
        (2, "the of and"),  # too short
        (3, " ".join(["the", "of"] + ["a"] * 40)),  # mean word len < 3
        (4, ("the of " + "#" * 30 + " ") + "word " * 30),  # symbol ratio
        (5, "the of " + "123 456 789 " * 12),  # alpha fraction < 0.8
        (6, "lorem ipsum dolor sit amet " * 8),  # no gopher stops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "__toks", F.split(F.col("text"), " ")
    )
    flags = gopher_rules(tokens_col="__toks", min_words=10)
    got = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(n) for n, c in flags.items()]).collect()
    }
    assert got[1]["gopher_pass"]
    assert not got[2]["word_count_ok"] and not got[2]["gopher_pass"]
    assert not got[3]["mean_word_len_ok"]
    assert not got[4]["symbol_ratio_ok"]
    assert not got[5]["alpha_ratio_ok"]
    assert not got[6]["stopword_ok"]
    # every failing doc fails the conjunction
    for d in (2, 3, 4, 5, 6):
        assert not got[d]["gopher_pass"], d


def test_gopher_rules_no_python_and_scan_stage(spark, docs):
    from pydala2_spark.functions.text import gopher_rules

    d = docs.withColumn("__toks", F.split(F.col("text"), " "))
    flags = gopher_rules(tokens_col="__toks")
    plan = (
        d.select("doc_id", *[c.alias(n) for n, c in flags.items()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure scan-stage projection


def test_fuzzy_matches_blocking_and_distance(spark):
    """Pairs emit once (id_a < id_b) with exact levenshtein; cross-block
    candidates never compare even when within distance; the length
    prefilter and custom block_expr both apply."""
    from pydala2_spark.operators.dedup import fuzzy_matches

    rows = [
        (1, "cold widget"),
        (2, "bold widget"),     # dist 1 from cold widget
        (3, "old widget"),      # dist 1 from bold, 1 from cold
        (4, "cold widgets"),    # different block (widgets) — never compared
        (5, "verylongname widget"),  # same block, length prefilter rejects
        (6, "cold gear"),       # other block entirely
    ]
    df = spark.createDataFrame(rows, "pid long, name string")
    out = fuzzy_matches(df, "name", "pid", max_distance=2)
    pairs = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 1}

    # custom block key: first character — 4 joins 1 ("cold widget*")
    from pyspark.sql import functions as F

    out2 = fuzzy_matches(
        df, "name", "pid", max_distance=2, block_expr=F.substring("name", 1, 4)
    )
    pairs2 = {(r["id_a"], r["id_b"]) for r in out2.collect()}
    assert (1, 4) in pairs2 and (1, 6) not in pairs2

    import pytest

    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_matches(df, "name", "pid", max_distance=-1)


def test_zipf_fit_recovers_planted_exponent(spark):
    """A corpus synthesized with freq(rank) = C * rank^-s recovers
    slope ~ -s with r2 ~ 1; flat frequencies give slope 0."""
    import pytest

    from pydala2_spark.operators.curate import zipf_fit

    s = 1.0
    words = []
    for rank in range(1, 41):
        words.extend([f"w{rank:03d}"] * max(1, int(round(4000 / rank ** s))))
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(df, top_n=40).collect()[0]
    assert row["n_terms"] == 40
    assert abs(row["slope"] + s) < 0.02  # integer-rounding noise only
    assert row["r2"] > 0.999

    flat = spark.createDataFrame(
        [(0, " ".join([f"t{i}" for i in range(30)] * 5))],
        "doc_id long, text string",
    )
    frow = zipf_fit(flat, top_n=30).collect()[0]
    assert frow["slope"] == 0.0 and frow["n_terms"] == 30

    with pytest.raises(ValueError, match="top_n"):
        zipf_fit(df, top_n=2)


def test_linkage_scores_weights_and_verdicts(spark):
    """Agreement adds log2(m/u), disagreement adds log2((1-m)/(1-u));
    verdict thresholds split match/possible/non_match; pairs stay
    inside blocks."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from pydala2_spark.operators.dedup import linkage_scores

    fields = {"brand": (0.9, 0.1), "size": (0.9, 0.25)}
    wa_b, wd_b = round(math.log2(9.0), 6), round(math.log2(0.1 / 0.9), 6)
    wa_s, wd_s = round(math.log2(3.6), 6), round(math.log2(0.1 / 0.75), 6)
    rows = [
        (1, "k1", "X", 10),
        (2, "k1", "X", 10),   # agree both -> strong match
        (3, "k1", "X", 99),   # agree brand only
        (4, "k1", "Y", 77),   # agree none
        (5, "k2", "X", 10),   # other block: never paired with 1-4
    ]
    df = spark.createDataFrame(rows, "id long, blk string, brand string, size int")
    out = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in linkage_scores(
            df, "id", fields, block_expr=F.col("blk"), upper=3.0, lower=0.0
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    full = out[(1, 2)]
    assert full["score"] == round(wa_b + wa_s, 4)
    assert full["verdict"] == "match"
    assert full["agree_brand"] and full["agree_size"]
    partial = out[(1, 3)]
    assert partial["score"] == round(wa_b + wd_s, 4)
    assert partial["verdict"] == "possible"  # 3.17 - 2.9 ~ 0.27
    neither = out[(1, 4)]
    assert neither["score"] == round(wd_b + wd_s, 4)
    assert neither["verdict"] == "non_match"

    with pytest.raises(ValueError, match="non-empty"):
        linkage_scores(df, "id", {}, block_expr=F.col("blk"))
    with pytest.raises(ValueError, match="0 < u < m < 1"):
        linkage_scores(df, "id", {"brand": (0.5, 0.6)}, block_expr=F.col("blk"))


def test_token_pmi_hand_computed(spark):
    """PMI matches the closed form on a hand corpus: tokens always
    together get positive PMI, independent-ish pairs near 0, the
    min_pair_docs floor drops rare pairs, and tok_a < tok_b."""
    import math

    from pydala2_spark.operators.curate import token_pmi

    # a & b always co-occur (4 docs); c appears in 2 of them; d once
    rows = [
        (0, "a b c"), (1, "a b"), (2, "a b c"), (3, "a b d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["tok_a"], r["tok_b"]): r.asDict()
           for r in token_pmi(df, min_pair_docs=2).collect()}
    ab = out[("a", "b")]
    assert (ab["df_a"], ab["df_b"], ab["df_ab"]) == (4, 4, 4)
    assert ab["pmi"] == round(math.log(4 * 4 / (4.0 * 4)), 6)  # == 0 at df=n
    ac = out[("a", "c")]
    assert ac["pmi"] == round(math.log(4 * 2 / (4.0 * 2)), 6)
    assert ("a", "d") not in out  # df_ab = 1 < min_pair_docs
    assert all(a < b for a, b in out)


def test_heaps_fit_recovers_growth_exponent(spark):
    """A corpus built so V(N) = N^beta exactly (each doc contributes
    a fixed token mass and a power-law vocab schedule) recovers beta;
    a closed-vocabulary corpus fits beta ~ 0."""
    import pytest

    from pydala2_spark.operators.curate import heaps_fit

    # closed vocabulary: every doc reuses the same 10 tokens -> after
    # the first bucket V is flat while N grows -> beta near 0
    closed = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(10))) for i in range(200)],
        "doc_id long, text string",
    )
    r0 = heaps_fit(closed, points=20).collect()[0]
    assert r0["n_points"] == 20
    assert abs(r0["beta"]) < 0.15

    # id-like churn: every token globally fresh -> V == N -> beta == 1
    fresh = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c") for i in range(200)],
        "doc_id long, text string",
    )
    r1 = heaps_fit(fresh, points=20).collect()[0]
    assert abs(r1["beta"] - 1.0) < 1e-6 and r1["r2"] > 0.999999

    with pytest.raises(ValueError, match="points"):
        heaps_fit(fresh, points=2)


def test_text_index_bm25_indexed_equals_direct(spark, tmp_path):
    """bm25_search_indexed over the persisted postings equals
    bm25_search over the corpus (scores, order, shape); the probe
    reads ONLY index files, and only the query terms' bucket
    partitions of the postings."""
    from pydala2_spark.operators.curate import (
        bm25_search,
        bm25_search_indexed,
        build_text_index,
    )

    rows = [
        (i, " ".join(
            ["spark"] * (1 + i % 3)
            + ["shuffle"] * (i % 2)
            + [f"filler{i % 7}", "common", "words", "here"]
        ))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "tix")
    build_text_index(spark, df, idx, buckets=16)

    q = ["spark", "shuffle"]
    direct = [(r["doc_id"], r["bm25"])
              for r in bm25_search(df, q, top_k=8).collect()]
    indexed_df = bm25_search_indexed(spark, idx, q, top_k=8, buckets=16)
    indexed = [(r["doc_id"], r["bm25"]) for r in indexed_df.collect()]
    assert indexed == direct and len(direct) == 8

    files = indexed_df.inputFiles()
    assert files and all("tix" in f for f in files)  # corpus never read
    # bucket pruning lands in the scan's PartitionFilters (directory
    # pruning at plan time — inputFiles() lists pre-pruning files, so
    # assert on the plan)
    import hashlib

    want = {int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big") % 16
            for t in q}
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert any(f"bucket#" in seg and "IN" in seg.upper()
               for seg in plan.split("PartitionFilters:")[1:2]) or all(
        str(b) in plan.split("PartitionFilters:")[1][:200] for b in want
    ), plan.split("PartitionFilters:")[1][:300]


def test_text_index_refresh_equals_full_rebuild(spark, tmp_path):
    """Half-build + refresh(other half) answers exactly like a full
    build; replaying the same refresh batch is a no-op (anti-join)."""
    from pydala2_spark.operators.curate import (
        bm25_search_indexed,
        build_text_index,
        refresh_text_index,
    )

    rows = [
        (i, f"alpha beta{'' if i % 4 else ' gamma'} tok{i % 5} alpha")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    half1, half2 = df.filter("doc_id < 20"), df.filter("doc_id >= 20")

    inc = str(tmp_path / "inc")
    build_text_index(spark, half1, inc, buckets=8)
    refresh_text_index(spark, half2, inc, buckets=8)
    refresh_text_index(spark, half2, inc, buckets=8)  # replay: no-op

    full = str(tmp_path / "full")
    build_text_index(spark, df, full, buckets=8)

    q = ["alpha", "gamma"]
    a = [(r["doc_id"], r["bm25"]) for r in
         bm25_search_indexed(spark, inc, q, top_k=12, buckets=8).collect()]
    b = [(r["doc_id"], r["bm25"]) for r in
         bm25_search_indexed(spark, full, q, top_k=12, buckets=8).collect()]
    assert a == b and len(a) == 12


def test_canonicalize_clusters_keep_best(spark):
    """Disposition contracts: singletons keep themselves; each cluster
    maps every member to the highest-quality doc (ties to smallest
    id); is_kept marks exactly one doc per cluster."""
    from pydala2_spark.operators.dedup import canonicalize_clusters

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (9, 70)],
        "doc_id long, n_chars long",
    )
    # {1,2,3} one cluster, {4} pairs with nothing... use explicit pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in canonicalize_clusters(docs, pairs).collect()}
    assert len(out) == 5
    # cluster {1,2,3}: best quality 300 tie between 2 and 3 → min id 2
    assert out[1]["canonical_id"] == 2 and not out[1]["is_kept"]
    assert out[2]["canonical_id"] == 2 and out[2]["is_kept"]
    assert out[3]["canonical_id"] == 2 and not out[3]["is_kept"]
    # singletons (never in pairs) keep themselves
    assert out[4]["canonical_id"] == 4 and out[4]["is_kept"]
    assert out[9]["canonical_id"] == 9 and out[9]["is_kept"]


def test_trigram_substring_search_exact_and_pruned(spark, tmp_path):
    """substring_search_indexed == full-scan contains() on every
    pattern (boundary, repeated, absent, full-text); short patterns
    fall back to the scan; the probe reads ONLY the pattern's
    gram-bucket partitions (input_file_name pin)."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import (
        build_trigram_index,
        substring_search_indexed,
    )

    rows = [
        (1, "abcdef"),
        (2, "xxabcxx"),
        (3, "no match here"),
        (4, "abcabcabc"),
        (5, "ab"),  # shorter than a trigram
        (6, "ends with abc"),
        (7, "abc at the start"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "trgm")
    build_trigram_index(spark, docs, path)

    for pat in ("abc", "abcdef", "match", "zzz", "abcabc", "h h"):
        got = sorted(
            r["doc_id"]
            for r in substring_search_indexed(
                spark, path, docs, pat
            ).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in docs.filter(F.col("text").contains(pat)).collect()
        )
        assert got == want, pat

    # short-pattern fallback is still exact
    got = sorted(
        r["doc_id"]
        for r in substring_search_indexed(spark, path, docs, "ab").collect()
    )
    assert got == [1, 2, 4, 5, 6, 7]

    # pruning: the postings scan for one gram reads <= 1 bucket dir
    import hashlib

    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(
            F.col("bucket")
            == int(hashlib.md5(b"abc").hexdigest()[:8], 16) % 64
        )
        .filter(F.col("gram") == "abc")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {r["f"].rsplit("/", 2)[-2] for r in postings}
    assert len(dirs) == 1 and all(d.startswith("bucket=") for d in dirs)


def test_trigram_search_exact_with_duplicate_ids(spark, tmp_path):
    """r15: the build no longer dedups (id, gram) across input rows
    (the aggregate rode the bucket-capped exchange — r14 verdict #2);
    the probe counts DISTINCT grams instead. A duplicate-id corpus is
    the case where the two shapes differ on disk — the search result
    must still equal the full-scan filter exactly (no false negative
    from double-counted gram hits)."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import (
        build_trigram_index,
        substring_search_indexed,
    )

    rows = [
        (1, "abcdef"),
        (1, "abcdef"),        # exact duplicate row
        (2, "abcxxx"),
        (2, "xxxdef"),        # same id, grams split across rows
        (3, "nothing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "trgm_dup")
    build_trigram_index(spark, docs, path)
    for pat in ("abc", "abcdef", "cde"):
        got = sorted(
            r["doc_id"]
            for r in substring_search_indexed(spark, path, docs, pat)
            .select("doc_id")
            .collect()
        )
        want = sorted(
            r["doc_id"]
            for r in docs.filter(F.col("text").contains(pat)).collect()
        )
        assert got == want, pat


def test_containment_pairs_planted_subsets(spark):
    """A verbatim embedded passage is ALWAYS found (the
    min-hash-membership block has recall 1 for true shingle subsets)
    with containment 1.0; orientation puts the smaller side first;
    shared vocabulary WITHOUT shared phrases does not pair (the
    reason shingles are the default); token mode (shingle_k=1)
    behaves as set containment; guards refuse nonsense."""
    import pytest as _pytest

    from pydala2_spark.operators.dedup import containment_pairs

    rows = [
        (1, "en", "alpha beta gamma delta"),  # passage, embedded in 2
        (2, "en", "intro words alpha beta gamma delta outro tail"),
        (3, "en", "beta alpha delta gamma qq ww ee rr"),  # same VOCAB only
        (4, "de", "alpha beta gamma delta"),  # other lang block
        (5, "en", "zz xx cc vv"),             # disjoint
        (6, "en", "ab"),                      # shorter than one shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    # doc1's 2 shingles both appear in doc2 -> containment 1.0
    assert got[(1, 2)]["containment"] == 1.0
    assert got[(1, 2)]["n_a"] == 2 and got[(1, 2)]["n_b"] == 6
    # doc3 shares every TOKEN with doc1 but no 3-token phrase
    assert all(3 not in p for p in got)
    assert all(4 not in p and 6 not in p for p in got)

    # token mode: doc3 DOES contain doc1's token set
    tok = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            docs, threshold=0.8, shingle_k=1
        ).collect()
    }
    assert tok[(1, 3)] == 1.0 and tok[(1, 2)] == 1.0

    with _pytest.raises(ValueError, match="threshold"):
        containment_pairs(docs, threshold=0.0)
    with _pytest.raises(ValueError, match="shingle_k"):
        containment_pairs(docs, shingle_k=0)


def test_rake_keyphrases_hand_case(spark):
    """RAKE scores on a tiny corpus with hand-computable degree/freq:
    phrase segmentation on stopwords, word score = degree/frequency,
    phrase score = sum of member scores, duplicates collapse with a
    count."""
    from pydala2_spark.functions.text import rake_keyphrases

    rows = [
        (1, "deep learning the deep model"),
        (2, "deep learning a model"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["phrase"]: r.asDict()
        for r in rake_keyphrases(docs, stopwords=("the", "a")).collect()
    }
    # phrases: doc1 -> "deep learning" (len2), "deep model" (len2);
    # doc2 -> "deep learning" (len2), "model" (len1)
    # freq: deep=3, learning=2, model=2
    # deg:  deep=2+2+2=6, learning=4, model=2+1=3
    # score: deep=2.0, learning=2.0, model=1.5
    assert out["deep learning"]["n_occurrences"] == 2
    assert out["deep learning"]["score"] == 4.0
    assert out["deep model"]["score"] == 3.5
    assert out["model"]["score"] == 1.5
    assert out["model"]["n_words"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stopwords"):
        rake_keyphrases(docs, stopwords=())


def test_distributed_prefix_equals_single_window(spark):
    """The two-pass distributed rank/cumsum must equal the global
    single-window form exactly — including DESC orders, decimal sums
    (associative, so boundary placement cannot move a bit), and more
    requested partitions than rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pydala2_spark.functions.skew import distributed_prefix

    rows = [(i, float((i * 7919) % 97) / 4) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v double").withColumn(
        "vd", F.col("v").cast("decimal(38,6)")
    )
    for order in ([F.asc("v"), F.asc("k")], [F.desc("v"), F.asc("k")]):
        got = {
            r["k"]: (r["__rank"], float(r["__cum"]))
            for r in distributed_prefix(
                df, order, sum_col="vd", n_partitions=7
            ).collect()
        }
        w = Window.partitionBy().orderBy(*order)
        want = {
            r["k"]: (r["rn"], float(r["cs"]))
            for r in df.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "cs",
                F.sum("vd").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .collect()
        }
        assert got == want
    # rank-only mode, partitions >> rows
    tiny = spark.createDataFrame([(3,), (1,), (2,)], "k long")
    got = {
        r["k"]: r["__rank"]
        for r in distributed_prefix(
            tiny, [F.asc("k")], n_partitions=64
        ).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3}


# -- ExactSubstr matched pairs (Lee et al. 2022) -----------------------


def _brute_exact_substr(docs: list[tuple[int, str]], k: int) -> list:
    """Reference enumeration: every left-maximal cross-doc run >= k."""
    toks = {d: t.split(" ") for d, t in docs}
    out = set()
    ids = sorted(toks)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            A, B = toks[ids[x]], toks[ids[y]]
            for pa in range(len(A)):
                for pb in range(len(B)):
                    if pa > 0 and pb > 0 and A[pa - 1] == B[pb - 1]:
                        continue  # extends left -> not maximal
                    n = 0
                    while (
                        pa + n < len(A)
                        and pb + n < len(B)
                        and A[pa + n] == B[pb + n]
                    ):
                        n += 1
                    if n >= k:
                        out.add((ids[x], ids[y], pa + 1, pb + 1, n))
    return sorted(out)


def test_exact_substring_matches_brute_force_pin(spark):
    """Planted unaligned duplicates: a 12-token passage at different
    offsets in different surroundings, a below-threshold 5-token
    overlap, and a periodic doc (every alignment is a distinct
    maximal run). Spark must equal the brute-force enumeration."""
    from pydala2_spark.operators.dedup import exact_substring_matches

    run = " ".join(f"R{i}" for i in range(12))
    docs = [
        (1, "a b c " + run + " x y z"),
        (2, "p q " + run + " m n o t u"),
        (3, "h i " + " ".join(f"R{i}" for i in range(5)) + " j"),
        (4, "w w w w w w w w w w"),
        (5, "k l m w w w w w w w w w w n"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in exact_substring_matches(df, k=8).collect()
    )
    exp = _brute_exact_substr(docs, 8)
    assert got == exp and len(exp) == 6
    # the 12-token passage is found despite different alignments
    assert (1, 2, 4, 3, 12) in got


def test_exact_substring_matches_oracle_parity(spark):
    """DuckDB oracle lands bit-for-bit on the same planted corpus."""
    import duckdb

    from pydala2_spark.operators.dedup import (
        exact_substring_matches,
        exact_substring_oracle_sql,
    )

    run = " ".join(f"T{i}" for i in range(9))
    docs = [
        (10, "alpha " + run + " omega"),
        (11, run + " tail tail tail"),
        (12, "pre pre " + run),
        (13, "unrelated words only here now truly"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in exact_substring_matches(df, k=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_in AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{t}')" for d, t in docs)
        + ") v(doc_id, text)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            exact_substring_oracle_sql(
                "SELECT doc_id, text FROM docs_in", k=8
            )
        ).fetchall()
    )
    assert got == want == _brute_exact_substr(docs, 8)
    assert len(got) == 3  # each doc pair among 10/11/12 shares the run


def test_exact_substring_matches_min_len_and_hub_cap(spark):
    from pydala2_spark.operators.dedup import exact_substring_matches

    run = " ".join(f"Z{i}" for i in range(10))
    docs = [(i, f"d{i} " + run + f" e{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # min_len raises the floor: 10-token runs survive >=10, not >=11
    assert exact_substring_matches(df, k=8, min_len=10).count() == 15
    assert exact_substring_matches(df, k=8, min_len=11).count() == 0
    # hub cap: the run's anchors occur 6 times; capping at 5 drops all
    assert (
        exact_substring_matches(df, k=8, max_occ_per_anchor=5).count() == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_substring_matches(df, k=1)
    with _pytest.raises(ValueError):
        exact_substring_matches(df, k=8, min_len=7)
    with _pytest.raises(ValueError):
        exact_substring_matches(df, k=8, max_occ_per_anchor=1)


def test_remove_exact_substrings_keeps_one_canonical_copy(spark):
    from pydala2_spark.operators.dedup import remove_exact_substrings

    run = " ".join(f"R{i}" for i in range(12))
    docs = [
        (1, "a b c " + run + " x y z"),      # min id: owner, untouched
        (2, "p q " + run + " m n o t u"),    # copy: run cut
        (3, "h i only unique words here j"),  # no dups: untouched
        (4, run),                             # copy: cut to empty
        (5, "short doc"),                     # < k tokens: pass-through
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in remove_exact_substrings(df, k=8).collect()
    }
    assert got[1] == (18, 0, docs[0][1])
    assert got[2] == (19, 12, "p q m n o t u")
    assert got[3] == (7, 0, docs[2][1])
    assert got[4] == (12, 12, "")  # non-owner copy removed entirely
    assert got[5] == (2, 0, "short doc")
    # exactly one copy of the run survives corpus-wide
    survivors = [v[2] for v in got.values() if run in v[2]]
    assert len(survivors) == 1


def test_remove_exact_substrings_oracle_parity(spark):
    import duckdb

    from pydala2_spark.operators.dedup import (
        exact_substring_removal_oracle_sql,
        remove_exact_substrings,
    )

    run = " ".join(f"Q{i}" for i in range(9))
    docs = [
        (7, "lead " + run + " tail"),
        (8, run + " extra extra"),
        (9, "x y " + run),
        (10, "none of these words repeat anywhere at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in remove_exact_substrings(df, k=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_in AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{t}')" for d, t in docs)
        + ") v(doc_id, text)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            exact_substring_removal_oracle_sql(
                "SELECT doc_id, text FROM docs_in", k=8
            )
        ).fetchall()
    )
    assert got == want
    with pytest.raises(ValueError):
        remove_exact_substrings(df, k=1)


# -- BPE tokenizer training (Sennrich et al. 2016) ---------------------


def _py_bpe(texts: list[str], n: int, max_len: int = 64) -> list:
    """Reference implementation: Sennrich get_stats/merge semantics
    with the (count DESC, lexicographic) deterministic tie-break."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in t.split(" "):
            if 1 <= len(w) <= max_len:
                wf[w] += 1
    words = {w: list(w) for w in wf}
    out = []
    for _ in range(n):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            raise ValueError("exhausted")
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((a, b, c))
        for w, syms in words.items():
            i, ns = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            words[w] = ns
    return out


_BPE_CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "that hat is the cats hat",
    "aaaa aaaa aa b",  # periodic: overlapping pair counts, greedy merge
]


def test_bpe_learn_matches_reference_both_paths(spark):
    from pydala2_spark.operators.curate import learn_bpe_merges

    df = spark.createDataFrame([(t,) for t in _BPE_CORPUS], "text string")
    exp = _py_bpe(_BPE_CORPUS, 8)
    got_driver = learn_bpe_merges(df, 8)  # vocabulary under the budget
    got_dist = learn_bpe_merges(df, 8, driver_word_budget=0)
    assert got_driver == exp
    assert got_dist == exp  # distributed path identical


def test_bpe_learn_oracle_parity(spark):
    import duckdb

    from pydala2_spark.operators.curate import (
        bpe_merges_oracle_sql,
        learn_bpe_merges,
    )

    df = spark.createDataFrame([(t,) for t in _BPE_CORPUS], "text string")
    got = learn_bpe_merges(df, 6)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_in AS SELECT * FROM (VALUES "
        + ", ".join(f"('{t}')" for t in _BPE_CORPUS)
        + ") v(text)"
    )
    want = [
        (r[1], r[2], int(r[3]))
        for r in sorted(
            con.execute(
                bpe_merges_oracle_sql("SELECT text FROM docs_in", 6)
            ).fetchall()
        )
    ]
    assert got == want == _py_bpe(_BPE_CORPUS, 6)


def test_bpe_learn_validation_and_exhaustion(spark):
    from pydala2_spark.operators.curate import learn_bpe_merges

    df = spark.createDataFrame([("ab ab",)], "text string")
    # 'ab' fully merges after 1 round; asking for 2 must be loud
    assert learn_bpe_merges(df, 1) == [("a", "b", 2)]
    with pytest.raises(ValueError):
        learn_bpe_merges(df, 2)
    with pytest.raises(ValueError):
        learn_bpe_merges(df, 0)
    # max_word_len excludes the long word entirely
    df2 = spark.createDataFrame([("abcde xy xy",)], "text string")
    assert learn_bpe_merges(df2, 1, max_word_len=2) == [("x", "y", 2)]


def test_bpe_encode_compression_oracle_parity(spark):
    import duckdb

    from pydala2_spark.operators.curate import (
        bpe_encode_oracle_sql,
        bpe_encode_token_counts,
        learn_bpe_merges,
    )

    corpus = [
        ("the cat sat on the mat", "web"),
        ("the cats sat on the mats", "web"),
        ("that hat is the cats hat", "book"),
        # > max_word_len words still ENCODE (merges apply to any word)
        ("supercalifragilistic words beyond the usual caps here", "book"),
    ]
    df = spark.createDataFrame(corpus, "text string, source string")
    merges = learn_bpe_merges(df, 5)
    got = sorted(
        tuple(r) for r in bpe_encode_token_counts(df, merges).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_in AS SELECT * FROM (VALUES "
        + ", ".join(f"('{t}', '{s}')" for t, s in corpus)
        + ") v(text, source)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            bpe_encode_oracle_sql("SELECT text, source FROM docs_in", 5)
        ).fetchall()
    )
    assert got == want
    # conservation: with zero merges every word encodes to its chars
    base = {
        r["source"]: (r["n_chars"], r["n_subtokens"])
        for r in bpe_encode_token_counts(df, []).collect()
    }
    assert all(c == s for c, s in base.values())


def test_mojibake_roundtrip_and_count(spark):
    """fix_mojibake inverts UTF-8-as-cp1252 corruption exactly: for
    any text of repairable chars, fix(corrupt(text)) == text."""
    from pydala2_spark.functions.text import (
        MOJIBAKE_REPAIRS,
        fix_mojibake,
        mojibake_count,
    )

    originals = [
        "café crème brûlée — c’est «très» bon… naïve piñata",
        "plain ascii stays untouched",
        "über señor 10°",
    ]
    corrupted = [
        t.encode("utf-8").decode("cp1252", errors="ignore")
        if any(b for b, _ in MOJIBAKE_REPAIRS if b in
               t.encode("utf-8").decode("cp1252", errors="ignore"))
        else t
        for t in originals
    ]
    df = spark.createDataFrame(
        [(o, c) for o, c in zip(originals, corrupted)],
        "orig string, bad string",
    )
    from pyspark.sql import functions as F

    rows = df.select(
        "orig",
        fix_mojibake(col=F.col("bad")).alias("fixed"),
        mojibake_count(col=F.col("bad")).alias("n"),
        mojibake_count(col=F.col("orig")).alias("n_orig"),
    ).collect()
    for r in rows:
        # every repairable char round-trips; ascii text is untouched
        assert r["n_orig"] == 0
        if r["n"] > 0:
            assert r["fixed"] == r["orig"]
    assert rows[0]["n"] >= 8  # é è û ’ « » … ï ñ all corrupted
    assert rows[1]["n"] == 0


def test_mojibake_table_is_prefix_safe(spark):
    """Longest-first ordering: no pattern applied earlier is a strict
    prefix of one applied later (which the earlier replace would eat)."""
    from pydala2_spark.functions.text import MOJIBAKE_REPAIRS

    pats = [b for b, _ in MOJIBAKE_REPAIRS]
    for i, p in enumerate(pats):
        for later in pats[i + 1 :]:
            assert not (later.startswith(p) and later != p)


def test_syllable_count_and_readability_report(spark):
    """Vowel-group syllable counts on known words; FORCAST formula
    hand-checked per group; empty tokens (double spaces) excluded."""
    from pydala2_spark.functions.text import readability_report, syllable_count

    toks = spark.createDataFrame(
        [("strength",), ("idea",), ("queueing",), ("rhythm",), ("xyz",)],
        "tok string",
    )
    got = [r[0] for r in toks.select(syllable_count("tok")).collect()]
    # strength: 'e'; idea: 'i','ea'; queueing: one run 'ueuei';
    # rhythm: 'y'; xyz: 'y'
    assert got == [1, 2, 1, 1, 1]
    docs = spark.createDataFrame(
        [
            ("en", "the  cat sat"),          # 3 words, all mono
            ("de", "banana banana potato"),  # 3 words, 0 mono
        ],
        "lang string, text string",
    )
    rows = {r["lang"]: r for r in readability_report(docs, "lang").collect()}
    en, de = rows["en"], rows["de"]
    assert (en["n_words"], en["pct_monosyllabic"], en["forcast_grade"]) == (
        3, 1.0, 5.0,
    )
    assert (de["n_words"], de["pct_monosyllabic"], de["forcast_grade"]) == (
        3, 0.0, 20.0,
    )
    assert de["syllables_per_word"] == 3.0
    assert en["avg_word_len"] == 3.0


def test_collocation_llr_matches_bruteforce(spark):
    """Dunning LLR vs a hand computation over a tiny corpus; planted
    collocation ranks first; zero cells contribute zero terms."""
    import math

    from pydala2_spark.operators.curate import collocation_llr

    docs = spark.createDataFrame(
        [("hong kong hong kong hong kong",), ("the cat the dog the cow",)],
        "text string",
    )
    got = [
        (r["tok_a"], r["tok_b"], r["k11"], r["llr"])
        for r in collocation_llr(docs, k=3).collect()
    ]
    # brute force: bigram table over both docs
    bigrams = {}
    for t in ["hong kong hong kong hong kong", "the cat the dog the cow"]:
        w = t.split()
        for a, b in zip(w, w[1:]):
            bigrams[(a, b)] = bigrams.get((a, b), 0) + 1
    n = sum(bigrams.values())
    la = {}
    rb = {}
    for (a, b), c in bigrams.items():
        la[a] = la.get(a, 0) + c
        rb[b] = rb.get(b, 0) + c

    def llr(a, b):
        k11 = bigrams[(a, b)]
        ca, cb = la[a], rb[b]
        cells = [
            (k11, ca, cb), (ca - k11, ca, n - cb),
            (cb - k11, n - ca, cb), (n - ca - cb + k11, n - ca, n - cb),
        ]
        s = sum(
            k * math.log(k * n / (r * c)) for k, r, c in cells if k > 0
        )
        return round(2.0 * s, 4)

    want = sorted(
        ((a, b, c, llr(a, b)) for (a, b), c in bigrams.items()),
        key=lambda x: (-x[3], x[0], x[1]),
    )[:3]
    assert got == want
    assert got[0][:2] == ("hong", "kong")


def test_js_divergence_matches_bruteforce(spark):
    """JS divergence vs a direct two-distribution computation; a group
    identical to the corpus mix scores ~0; disjoint vocabularies push
    js_norm toward its upper bound."""
    import math

    from pydala2_spark.operators.curate import js_divergence_by_group

    docs = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "c c d"), ("s3", "a a b c c d")],
        "source string, text string",
    )
    got = {
        r["source"]: (r["n_tokens"], r["js_nats"], r["js_norm"])
        for r in js_divergence_by_group(docs, "source").collect()
    }
    # brute force
    from collections import Counter

    groups = {"s1": "a a b", "s2": "c c d", "s3": "a a b c c d"}
    corpus = Counter()
    per = {}
    for g, t in groups.items():
        per[g] = Counter(t.split())
        corpus.update(t.split())
    nn = sum(corpus.values())
    for g, cnt in per.items():
        ns = sum(cnt.values())
        js = 0.0
        vocab = set(corpus)
        for t in vocab:
            p = cnt.get(t, 0) / ns
            q = corpus[t] / nn
            m = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            if q > 0:
                js += 0.5 * q * math.log(q / m)
        assert abs(got[g][1] - js) < 1e-3, g
        assert got[g][0] == ns
    # s3 is exactly half the corpus with the corpus' own mix -> lowest
    assert got["s3"][1] == min(v[1] for v in got.values())
    assert got["s1"][2] > 0.2 and got["s2"][2] > 0.2


def test_distributed_ntile_equals_native(spark):
    """distributed_ntile must reproduce the native ntile() bucket row
    for row, including the uneven-bucket edge (n % k != 0) and the
    n < k degenerate case."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pydala2_spark.functions.skew import distributed_ntile

    rows = [((i * 37) % 101, i) for i in range(97)]  # coprime scramble
    df = spark.createDataFrame(rows, "v long, id long")
    for k in (5, 10, 7):
        got = {
            r["id"]: r["b"]
            for r in distributed_ntile(
                df, [F.asc("v"), F.asc("id")], k, out_col="b", n_partitions=8
            ).collect()
        }
        want = {
            r["id"]: r["b"]
            for r in df.withColumn(
                "b", F.ntile(k).over(Window.orderBy(F.asc("v"), F.asc("id")))
            ).collect()
        }
        assert got == want, f"k={k}"
    # n < k: first n buckets get one row each
    small = spark.createDataFrame([(3, 1), (1, 2), (2, 3)], "v long, id long")
    got = {
        r["id"]: r["b"]
        for r in distributed_ntile(
            small, [F.asc("v"), F.asc("id")], 5, out_col="b", n_partitions=4
        ).collect()
    }
    assert got == {2: 1, 3: 2, 1: 3}


def test_silhouette_numpy_reference(spark):
    """silhouette_by_label vs a from-scratch numpy computation with
    the same round-6 distances; the broadcast-join fallback path must
    agree with the literal path bit for bit."""
    import numpy as np

    from pydala2_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    k, n, d = 3, 60, 5
    cents = rng.randn(k, d) * 4
    rows = []
    for i in range(n):
        lbl = i % k
        rows.append(
            (i, [float(x) for x in cents[lbl] + rng.randn(d) * 0.5], lbl)
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        r["label"]: (r["n"], r["mean_silhouette"])
        for r in sim.silhouette_by_label(df).collect()
    }
    # numpy reference with the library's exact discipline: centroid =
    # decimal-exact mean of float32-rounded inputs ~ plain mean of the
    # float32 values (exact here since we only compare to 6 digits
    # after round-6 distances)
    vecs = np.array(
        [np.array(v, dtype=np.float32).astype(np.float64) for _, v, _ in rows]
    )
    labels = np.array([l for _, _, l in rows])
    C = np.vstack([vecs[labels == j].mean(axis=0) for j in range(k)])
    want = {}
    for j in range(k):
        ss = []
        for i in range(n):
            if labels[i] != j:
                continue
            dists = [round(float(np.sqrt(((vecs[i] - C[m]) ** 2).sum())), 6) for m in range(k)]
            a = dists[j]
            b = min(dd for m, dd in enumerate(dists) if m != j)
            s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
            ss.append(round(s, 12))
        want[j] = (len(ss), round(sum(ss) / len(ss), 6))
    for j in range(k):
        assert got[j][0] == want[j][0]
        assert abs(got[j][1] - want[j][1]) < 2e-6, (j, got[j], want[j])
    # broadcast-path equality: force the join path by dropping the limit
    old = sim._KMEANS_LITERAL_LIMIT
    try:
        sim._KMEANS_LITERAL_LIMIT = 0
        got2 = {
            r["label"]: (r["n"], r["mean_silhouette"])
            for r in sim.silhouette_by_label(df).collect()
        }
    finally:
        sim._KMEANS_LITERAL_LIMIT = old
    assert got == got2


def test_hard_negatives_bruteforce(spark):
    """Hard negatives vs a numpy replay on a planted geometry: the
    nearest different-label vector must out-rank farther ones, the
    positive is the nearest same-label vector, and a query whose
    label is unique in the corpus yields no rows."""
    import numpy as np

    from pydala2_spark.operators.similarity import hard_negatives

    rows = [
        # query 0, label 0, along +x
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        # same-label friends at decreasing similarity
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.5, 0.5, 0.0, 0.0], 0),
        # different-label: one very close (hard), one orthogonal
        (3, [0.99, 0.01, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0, 0.0], 2),
        # query 6 has a unique label -> no positive -> no output rows
        (6, [0.0, 0.0, 0.0, 1.0], 9),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(
        df, df.filter("vec_id = 0 OR vec_id = 6"), k=2
    ).collect()
    assert all(r["query_id"] == 0 for r in out)  # query 6 dropped
    by_rank = {r["rank"]: r for r in out}
    assert by_rank[1]["negative_id"] == 3  # the near different-label vec
    assert by_rank[2]["negative_id"] == 4
    assert all(r["positive_id"] == 1 for r in out)
    # margin = pos_cos - neg_cos, and the rank-1 negative out-scores
    # the positive here (vec 3 is closer than vec 1) -> negative margin
    assert by_rank[1]["margin"] < 0 < by_rank[2]["margin"]
    un = np.array([1.0, 0.0, 0.0, 0.0])

    def cos(v):
        v = np.array(v)
        return round(float(un @ v / np.linalg.norm(v)), 4)

    assert by_rank[1]["neg_cos"] == cos([0.99, 0.01, 0.0, 0.0])
    assert by_rank[1]["pos_cos"] == cos([0.9, 0.1, 0.0, 0.0])


def test_ann_recall_planted_miss(spark):
    """recall@k harness on a planted geometry: a cross-cell near
    neighbor that IVF(nprobe=1) cannot see yields recall 4/5; raising
    nprobe to cover every cell restores recall 1.0."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    rows = [
        (0, [1.0, 0.0], 0),      # the query, cell 0
        (1, [1.0, 0.01], 0),
        (2, [1.0, 0.02], 0),
        (3, [1.0, 0.03], 0),
        (4, [1.0, 0.04], 0),
        (5, [0.9, 0.44], 1),     # near the query but in cell 1
        (6, [0.0, 1.0], 1),      # drag cell 1's centroid away
        (7, [0.0, 1.0], 1),
        (8, [-0.1, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    probes = df.filter("vec_id = 0")

    def recall(nprobe):
        exact = cosine_topk(df, probes, k=5).select("query_id", "neighbor_id")
        ap = (
            cosine_topk_ivf(df, probes, k=5, nprobe=nprobe)
            .select("query_id", "neighbor_id")
            .withColumn("__hit", F.lit(1))
        )
        j = exact.join(F.broadcast(ap), ["query_id", "neighbor_id"], "left")
        [r] = (
            j.groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
            )
            .collect()
        )
        return r["n_exact"], r["n_hits"]

    assert recall(1) == (5, 4)  # vec 5 is in the unprobed cell
    assert recall(2) == (5, 5)


def test_nb_classifier_hand_case(spark):
    """NB classifier vs hand math: class-exclusive vocabularies give a
    perfect confusion diagonal; an all-OOV test doc falls back to the
    smoothing-dominated score where the class with FEWER training
    tokens wins (smaller ln(T_c + V) denominator), not the prior."""
    rows = []
    # train (even ids): class a says "apple banana", class b "zebra yak"
    for i in range(0, 20, 2):
        rows.append((i, "a", "apple banana apple"))
    for i in range(20, 32, 2):
        rows.append((i, "b", "zebra yak zebra yak"))
    # test (odd ids): clearly separable
    rows += [(1, "a", "apple apple banana"), (3, "a", "banana apple"),
             (21, "b", "zebra yak yak"), (23, "b", "yak zebra")]
    # all-OOV test doc, true class a: every token unseen -> score_c =
    # ln(prior_c) - n*ln(T_c+V); T_a = 30 < T_b = 24? compute: a has
    # 10 docs x 3 toks = 30, b has 6 docs x 4 = 24; V = 4
    rows += [(5, "a", "quux corge")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from pydala2_spark.operators.curate import nb_domain_classifier

    got = {
        (r["true_source"], r["predicted_source"]): r["n_docs"]
        for r in nb_domain_classifier(df).collect()
    }
    import math

    # hand-score the OOV doc: n=2 tokens
    pa = math.log(10 / 16) - 2 * math.log(30 + 4)
    pb = math.log(6 / 16) - 2 * math.log(24 + 4)
    oov_pred = "a" if pa > pb else "b"
    want = {("a", "a"): 2, ("b", "b"): 2}
    want[("a", oov_pred)] = want.get(("a", oov_pred), 0) + 1
    assert got == want


def test_minhash_planted_clone_detected(spark):
    """The dedup_minhash_eval construction: a first-token-dropped
    clone of a long doc must survive banding and the 0.5 Jaccard
    verify; an unrelated doc must not pair with it."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.dedup import minhash_lsh_pairs

    long_text = " ".join(f"tok{i}" for i in range(30))
    clone = " ".join(f"tok{i}" for i in range(1, 30))  # first token dropped
    other = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (10000001, clone), (2, other)],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (1, 10000001) in got
    # 28 shared 3-shingles of 29 original ones
    assert got[(1, 10000001)] == round(27 / 28, 4)
    assert all(2 not in k for k in got)


def test_embedding_drift_planted_shift(spark):
    """Drift monitor vs numpy: identical halves give dist 0 / cos 1;
    a planted constant offset on the odd half shows up as exactly
    that offset's norm in centroid_dist and in the mean norms."""
    import numpy as np

    from pydala2_spark.operators.similarity import embedding_drift

    rng = np.random.RandomState(11)
    base = rng.randn(40, 8).astype(np.float32)
    # identical halves: even id i and odd id i+1 share a vector
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    [r] = embedding_drift(df).collect()
    assert (r["n_a"], r["n_b"]) == (40, 40)
    assert r["centroid_dist"] == 0.0 and r["centroid_cos"] == 1.0
    assert r["mean_norm_a"] == r["mean_norm_b"]
    # plant a +2.0 shift on dimension 0 of the odd half
    rows2 = []
    for i, v in enumerate(base):
        rows2.append((2 * i, [float(x) for x in v]))
        w = v.copy(); w[0] += 2.0
        rows2.append((2 * i + 1, [float(x) for x in w]))
    [r2] = embedding_drift(
        spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    ).collect()
    assert abs(r2["centroid_dist"] - 2.0) < 1e-6
    assert r2["centroid_cos"] < 1.0


def test_token_cooccurrence_edges_and_textrank_order(spark):
    """Edge builder: lowercased, >= 3 chars alphabetic only, least/
    greatest normalized, min_count pruning; TextRank on a planted hub
    graph must rank the hub first."""
    from pyspark.sql import functions as F

    from pydala2_spark.operators.curate import token_cooccurrence_edges
    from pydala2_spark.operators.graph import pagerank

    docs = spark.createDataFrame(
        [("HUB alpha hub beta hub gamma x9 hub alpha",),
         ("alpha hub beta hub gamma hub",),
         ("alpha hub",)],
        "text string",
    )
    edges = token_cooccurrence_edges(docs, min_count=2)
    got = {(r["src"], r["dst"]): r["w"] for r in edges.collect()}
    # 'x9' fails the alphabetic filter -> gamma-x9 / x9-hub never form;
    # pairs seen >= 2 times survive
    assert ("alpha", "hub") in got and ("beta", "hub") in got
    assert all("x9" not in k for k in got)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    pr = pagerank(sym, iterations=3).collect()
    top = max(pr, key=lambda r: (r["pr"], r["node"]))
    assert top["node"] == "hub"
