"""Deduplication operators for large-scale corpus curation.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
DataFrame — the scale extension the reference lacks (pydala2's only
dedup is row-level ``unique`` at write time,
`/root/reference/pydala/io.py:242-259`), designed Spark-first:

- all hashing is md5-seeded string hashing (reproducible in any SQL
  engine — the DuckDB oracle mirrors it exactly);
- candidate generation is always a *blocked equi-join* (LSH band
  signatures / simhash chunks / length buckets), never an O(n²)
  cross join, so the same plan survives a 100 TB corpus: Catalyst
  shuffles on the band key, AQE splits skewed buckets;
- verification (true Jaccard / Hamming) runs only on candidate pairs.

Expression-only (no Python UDFs): transform/aggregate/array_* stay in
whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydala2_spark.frames import materialize, materialize_counted, spread
from pydala2_spark.functions.text import content_hash, shingles_sql


# -- exact ------------------------------------------------------------


def exact_duplicates(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content md5, n_docs, keeper).

    One hash-shuffle on the 128-bit content hash; the keeper is the
    minimum id (deterministic).
    """
    return (
        df.select(F.col(id_col), content_hash(text).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def drop_exact_duplicates(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of every content group."""
    w = Window.partitionBy(content_hash(text)).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


# -- MinHash + LSH ----------------------------------------------------


# MinHash resemblance sketching (Broder, "On the resemblance and
# containment of documents", 1997) with banded LSH candidate
# generation (Leskovec/Rajaraman/Ullman, "Mining of Massive
# Datasets" ch.3).
# universal-hash family for MinHash: h_i(x) = (a_i * x + b_i) mod P,
# where x is the 60-bit prefix of md5(shingle) reduced mod P. The
# constants are md5-derived (deterministic, embedded literally in the
# oracle SQL too). One md5 per shingle total — the K permutations are
# integer arithmetic, ~K× cheaper than K md5 calls.
MINHASH_P = 1_000_000_007


def _minhash_consts(num_hashes: int) -> tuple[list[int], list[int]]:
    import hashlib

    def gen(tag: str, i: int) -> int:
        v = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        return v or 1

    return (
        [gen("a", i) for i in range(num_hashes)],
        [gen("b", i) for i in range(num_hashes)],
    )


def minhash_signature(df: DataFrame, text: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 12, k: int = 3) -> DataFrame:
    """(id, mh): array of ``num_hashes`` universal-hash minima over
    k-token shingles.

    Shape: explode (doc × shingle) → one md5 per shingle → explode the
    hash family (arithmetic only) → hash-aggregate the min per
    (doc, hash) → reassemble ordered by hash id. The min combines
    map-side (partial aggregation), so the shuffle carries only
    num_hashes rows per document.
    """
    a_consts, b_consts = _minhash_consts(num_hashes)
    tk = spread(df, id_col).select(F.col(id_col), F.split(F.col(text), " ").alias("__tk"))
    sh = tk.select(F.col(id_col), F.explode(F.expr(shingles_sql(text, k, "__tk"))).alias("s"))
    h0 = sh.select(
        id_col,
        (F.expr("cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)") % MINHASH_P).alias("h0"),
    )
    # all K minima in ONE aggregation over (doc → shingle) rows: the
    # permuted hashes are projections, the mins combine map-side, and
    # the shuffle carries one row per document.
    aggs = [
        F.min(F.expr(f"({a}L * h0 + {b}L) % {MINHASH_P}L")).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(a_consts, b_consts))
    ]
    sig = h0.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("mh")
    )


def lsh_band_signatures(
    df_with_mh: DataFrame, id_col: str = "doc_id", bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """Explode the signature into (band, band_sig) keys. Docs sharing
    any band signature become candidates — the classic banding scheme:
    with 4×3 bands, Jaccard 0.7 pairs collide w.p. ~0.87, Jaccard 0.3
    pairs w.p. ~0.1."""
    sigs = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> struct(b as band, "
        f"md5(concat_ws('|', transform(slice(mh, b * {rows_per_band} + 1, {rows_per_band}), "
        f"x -> cast(x as string)))) as sig))"
    )
    return (
        df_with_mh.select(F.col(id_col), F.explode(sigs).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified by true
    shingle Jaccard: (id_a, id_b, jaccard) with id_a < id_b.

    Plan shape at scale: map (signatures) → shuffle on (band, sig) →
    self-join inside buckets → verify only candidates. No cross join
    anywhere.
    """
    rows_per_band = num_hashes // bands
    with_mh = minhash_signature(df, text, id_col, num_hashes, k)
    bandsig = lsh_band_signatures(with_mh, id_col, bands, rows_per_band)
    cand = (
        bandsig.alias("a")
        .join(
            bandsig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sh = df.select(F.col(id_col), F.split(F.col(text), " ").alias("__tk")).select(
        F.col(id_col), F.expr(shingles_sql(text, k, "__tk")).alias("sh")
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")), 4
    )
    sh_b = sh.withColumnRenamed(id_col, "__idb").withColumnRenamed("sh", "sh_b")
    return (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        # jaccard stated once, inside the join condition: evaluated a
        # single time per candidate instead of filter + project
        .join(sh_b, (F.col("id_b") == F.col("__idb")) & (jac >= threshold))
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


# -- persisted MinHash index (incremental dedup) ----------------------


def build_minhash_index(
    spark,
    corpus: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
) -> None:
    """Materialize a MinHash signature store for INCREMENTAL dedup:
    ``<path>/signatures`` holds (id, mh) and ``<path>/bands`` the
    exploded (band, sig) keys hive-partitioned by band. This is the
    near-dup analogue of :func:`similarity.build_ivf_index` — build
    once over the corpus, then screen every incoming batch against
    signatures alone: at 100 TB the corpus TEXT is read exactly once
    ever (here), and each ingest pays O(batch) work plus a join
    against the band store. The reference has no incremental-dedup
    surface at all (its ``unique`` is per-write row dedup,
    /root/reference/pydala/io.py:242-259).

    Signatures persist (not recomputed from text at probe time), so
    index and probe agree bit-for-bit on the hash family; parameters
    are recorded under ``<path>/_params`` and enforced at probe time.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    with_mh = minhash_signature(corpus, text, id_col, num_hashes, k)
    with_mh.write.mode("overwrite").parquet(f"{path}/signatures")
    stored = spark.read.parquet(f"{path}/signatures")
    (
        lsh_band_signatures(stored, id_col, bands, num_hashes // bands)
        .repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{path}/bands")
    )
    spark.createDataFrame(
        [(num_hashes, bands, k, id_col)],
        "num_hashes int, bands int, k int, id_col string",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/_params")


def incremental_near_dups(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text: str = "text",
    threshold: float = 0.5,
    new_mh: DataFrame | None = None,
) -> DataFrame:
    """Screen a new batch against a :func:`build_minhash_index` store:
    (corpus_id, new_id, est_jaccard) for candidate near-dup pairs with
    estimated Jaccard ≥ threshold.

    The estimate is the standard MinHash agreement fraction (share of
    equal signature components — unbiased estimator of Jaccard,
    Broder 1997), computed stored-signature vs batch-signature: the
    corpus text is never touched. Plan shape: batch signatures (one
    agg over batch shingles) → band-key equi-join against the band
    store (the batch side is the small side — broadcast) → one
    signature join per side → zip_with agreement. False negatives
    follow the banding curve; tighten with more bands at build time.
    """
    p = spark.read.parquet(f"{index_path}/_params").first()
    id_col = p["id_col"]
    if new_mh is None:
        new_mh = materialize(
            minhash_signature(new_docs, text, id_col, p["num_hashes"], p["k"])
        )
    # else: caller precomputed the batch signatures (MUST be built with
    # this index's stored params — curate_stream reads them from
    # _params) so the dominant per-batch hashing runs once, not twice
    new_bands = lsh_band_signatures(new_mh, id_col, p["bands"], p["num_hashes"] // p["bands"])
    idx_bands = spark.read.parquet(f"{index_path}/bands")
    cand = (
        idx_bands.join(
            F.broadcast(new_bands.withColumnRenamed(id_col, "__new_id")),
            ["band", "sig"],
        )
        .select(F.col(id_col).alias("corpus_id"), F.col("__new_id").alias("new_id"))
        .distinct()
    )
    idx_sig = spark.read.parquet(f"{index_path}/signatures").select(
        F.col(id_col).alias("corpus_id"), F.col("mh").alias("__mh_c")
    )
    new_sig = new_mh.select(
        F.col(id_col).alias("new_id"), F.col("mh").alias("__mh_n")
    )
    est = F.round(
        F.expr("aggregate(zip_with(__mh_c, __mh_n, (x, y) -> if(x = y, 1, 0)), "
               "0, (acc, v) -> acc + v)")
        / F.lit(p["num_hashes"]),
        4,
    )
    return (
        cand.join(idx_sig, "corpus_id")
        .join(F.broadcast(new_sig), "new_id")
        .select("corpus_id", "new_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# -- n-gram Jaccard with length blocking ------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_col: str = "n_chars",
    length_bucket: int = 25,
    threshold: float = 0.5,
    min_hash_block: bool = True,
    min_hash_bands: int = 1,
) -> DataFrame:
    """Token-set Jaccard pairs, blocked by metadata + length bucket +
    (by default) the document's minimum token hash.

    Metadata blocking alone (same lang, same ⌊len/25⌋) has bounded
    cardinality: at corpus scale a hot (english, common-length) bucket
    holds millions of documents and the per-bucket join goes O(n²). So
    the default block key adds a conjunct with *data-driven*
    cardinality: the min md5-hash over the document's distinct tokens —
    a 1-row MinHash. Two documents with token-Jaccard j share it with
    probability exactly j (Broder 1997), so at threshold 0.5 recall is
    ≥ 50% of threshold pairs (rising with j: exact near-dups always
    collide); what it buys is block sizes that track token rarity, not
    corpus language mix — safe by default at 100 TB. Pass
    ``min_hash_block=False`` for the exhaustive-within-bucket screen
    when the corpus is known small. Pairs straddling a length-bucket
    boundary are missed either way — the MinHash-LSH path has no such
    blind spot.

    ``min_hash_bands=b`` (b > 1) trades compute for recall: each
    document gets b independently-salted min-token hashes, candidates
    match in ANY band (the doc frame explodes b×; same-band equi-join;
    pair dedup after), lifting recall at Jaccard j from j to
    1-(1-j)^b — e.g. 0.5 → 0.94 at b=4 — while each band's block
    cardinality still tracks token rarity. The default b=1 keeps the
    single-conjunct plan (and is what the registry oracles mirror).

    Tokens are hashed to int64 (xxhash64) ONCE per document before the
    join: per-pair set intersection then hashes 8-byte longs instead of
    re-hashing every string token for every candidate pair. Jaccard on
    the hashed sets equals Jaccard on the token sets (the map is
    injective on each doc's distinct tokens barring 64-bit collisions),
    so oracle SQL computed on raw tokens still matches. The block-key
    min is md5-based (not xxhash64) so the DuckDB oracle can compute
    the identical key. r8 quiet A/B at sf0.1 (5 alternating runs each):
    hashed 0.569 s vs raw-string 0.575 s median — parity at this scale
    (the md5 min-hash map stage dominates); the 8-byte compare
    advantage grows with candidate-pair volume, so the hashed form
    stays. The apparent r6→r7 bench regression (1.17→1.79 s) did not
    reproduce quietly (registry query median 0.645 s) — co-tenant
    spread, not code.
    """
    if min_hash_bands < 1:
        raise ValueError("min_hash_bands must be >= 1")
    multi_band = min_hash_block and min_hash_bands > 1

    # md5-derived 60-bit token hash — reproducible in any SQL engine.
    # Bands beyond the first salt the hash so their minima are
    # independent permutations of the token universe.
    def _min_tok_hash(band: int):
        salt = (lambda t: F.concat(F.lit(f"b{band}:"), t)) if band else (lambda t: t)
        return F.array_min(
            F.transform(
                F.col("__raw"),
                lambda t: F.conv(
                    F.substring(F.md5(salt(t)), 1, 15), 16, 10
                ).cast("long"),
            )
        )

    if multi_band:
        mb_cols = [
            F.array(*[_min_tok_hash(i) for i in range(min_hash_bands)]).alias("__mbs")
        ]
    elif min_hash_block:
        mb_cols = [_min_tok_hash(0).alias("mb")]
    else:
        mb_cols = []
    toks = (
        spread(df, id_col)
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            F.floor(F.col(length_col) / length_bucket).alias("lb"),
            F.array_distinct(F.split(F.col(text), " ")).alias("__raw"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            "lb",
            F.transform(F.col("__raw"), lambda t: F.xxhash64(t)).alias("tk"),
            *mb_cols,
        )
        .withColumn("sz", F.size("tk"))
    )
    if multi_band:
        # one row per (doc, band): candidates meet in ANY shared band
        toks = toks.select(
            "*", F.posexplode("__mbs").alias("band", "mb")
        ).drop("__mbs")
    toks = materialize(toks)
    jac = F.round(
        F.size(F.array_intersect("a.tk", "b.tk")) / F.size(F.array_union("a.tk", "b.tk")), 4
    )
    # one conjunction, cheapest first: Catalyst keeps the stated order
    # of non-equi conjuncts, so the O(|tk|) jaccard only runs on pairs
    # that survive the O(1) id and size checks. The size-ratio test is
    # implied by jaccard >= t (|A∩B| ≤ min ⇒ j ≤ min/max): free pruning,
    # no result change. Stating jaccard in the join condition (not a
    # later filter) also stops Catalyst re-deriving it twice.
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols] + [
        F.col("a.lb") == F.col("b.lb"),
        *([F.col("a.mb") == F.col("b.mb")] if min_hash_block else []),
        *([F.col("a.band") == F.col("b.band")] if multi_band else []),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"),
        F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"),
        jac >= threshold,
    ]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    pairs = (
        toks.alias("a")
        .join(toks.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
    )
    if multi_band:
        # a pair matching in several bands appears once per band
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


# -- SimHash ----------------------------------------------------------

SIMHASH_BITS = 48  # stay inside a positive int64


def simhash(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash per document from distinct tokens (Charikar,
    "Similarity estimation techniques from rounding algorithms", 2002;
    near-dup chunking per Manku et al., "Detecting near-duplicates for
    web crawling", 2007).

    Token hash = first 48 bits of md5 as one int64; document bit j =
    sign of Σ_tokens (2·bit_j(token) − 1). One explode to token rows,
    then a single hash-aggregation per document computing all 48 bit
    sums as independent columns — no (token × bit) row explosion, no
    (doc, bit) shuffle, and every expression stays in whole-stage
    codegen. At 100 TB this is one shuffle keyed on doc_id whose
    width is 48 longs.
    """
    from functools import reduce
    from operator import add

    tok = spread(df, id_col).select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text), " "))).alias("t")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long").alias("th"),
    )
    # branch-free bit sums: Σ_tokens (2·bit_j − 1) = 2·Σ bit_j − n, so
    # each of the 48 aggregates is a plain SUM of a shift-and-mask
    # (no CASE per row) plus one shared COUNT — same result as the
    # oracle's CASE formulation, less work inside the hot aggregate.
    sums = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.expr(f"(th >> {j}) & 1")).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    ).select(
        id_col,
        *[
            (F.lit(2) * F.col(f"b{j}") - F.col("__n")).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    assemble = reduce(
        add,
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        ],
    )
    return sums.select(id_col, assemble.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation: split the 48 bits into 4 chunks of 12; any
    pair within Hamming 3 must agree on ≥1 chunk (pigeonhole) — so a
    self-join on (chunk_idx, chunk_value) finds all of them without a
    cross join. Verify with bit_count(a XOR b).

    The per-doc signature frame is materialized once across the two
    self-join sides (:func:`materialize`): Catalyst emits no
    ReusedExchange here, so the lazy form runs the token explode +
    48-bit-sum aggregation — the expensive stage — twice. Unlike the
    token-level frames this checkpoint is one narrow row per document
    (id + int64), so the write cost is negligible at any scale;
    interleaved A/B at sf0.1: min 1.59 s -> 0.76 s.
    """
    sh = materialize(simhash(df, text, id_col))
    return hamming_near_pairs(
        sh, "simhash", id_col, SIMHASH_BITS, max_hamming, chunks
    )


def hamming_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs within Hamming ``max_hamming`` over any int64 sketch
    column, via the pigeonhole chunk join: with ``chunks`` >
    ``max_hamming``, every qualifying pair must agree on ≥1 chunk, so
    a self-join on (chunk_idx, chunk_value) finds ALL of them (exact
    recall) without a cross join. Verify with bit_count(a XOR b).

    Shared candidate machinery for every Hamming-space sketch — text
    SimHash (:func:`simhash_near_pairs`) and media blockhash
    (:func:`operators.multimodal.media_near_duplicates`). The input
    frame should already be materialized/cheap: it feeds both
    self-join sides.
    """
    if chunks <= max_hamming:
        raise ValueError(
            f"pigeonhole needs chunks > max_hamming ({chunks} <= {max_hamming}):"
            " a pair could differ in every chunk and be missed"
        )
    width = bits // chunks
    chunked = df.select(
        id_col,
        hash_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), "
                f"c -> struct(c as c, cast({hash_col} div cast(pow(2, c * {width}) as long) "
                f"% cast(pow(2, {width}) as long) as long) as v))"
            )
        ).alias("ch"),
    ).select(id_col, hash_col, F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    pairs = (
        chunked.alias("a")
        .join(
            chunked.alias("b"),
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.expr(f"a.{hash_col} ^ b.{hash_col}")).alias("hamming"),
        )
        # verify BEFORE dedup: bit_count is a codegen one-liner, while
        # distinct is a shuffle — filtering first shrinks the shuffle
        # by the candidate:match ratio (~8x here)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs.select("id_a", "id_b", "hamming")


# -- embedding near-dup ------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.99,
    srp_planes: int = 4,
) -> DataFrame:
    """Pairs of near-identical embeddings by exact cosine.

    Blocking (the thing that kills the O(n²) cross join at 100 TB):
    by DEFAULT each vector is assigned a deterministic sign-random-
    projection bucket (md5-derived hyperplanes, similarity.srp_bucket)
    and only same-bucket pairs are compared — 2^srp_planes blocks whose
    sizes track the data distribution, no metadata required. Truly
    near-identical vectors (cosine → 1) land in the same bucket with
    probability (1 - θ/π)^planes, so recall stays high exactly where
    the operator is aimed. Pass ``block_col`` to additionally require a
    metadata match (e.g. same label) — the conjunction tightens blocks
    for labeled corpora; pairs straddling buckets are missed by
    construction (documented LSH trade-off).
    """
    from pydala2_spark.operators.similarity import (
        scalar_dot,
        srp_bucket,
        unit_scalar_frame,
        vector_dim,
    )

    dim = vector_dim(df, vec_col)
    keep = [id_col] + ([block_col] if block_col else [])
    base = spread(df, id_col).select(*keep, vec_col).withColumn(
        "__srp", srp_bucket(vec_col, srp_planes, dim)
    )
    # widen to scalar columns: keeps the O(pairs) dot-product stage in
    # whole-stage codegen (lambda dots run interpreted — 2x slower).
    # Materialize the widened frame once: it feeds BOTH self-join
    # sides, and the per-row widening (dim element_at projections +
    # normalization) is the expensive map stage here — measured 1.59 →
    # 1.49 s min-of-5 at sf0.1 in one session, with the whole timing
    # distribution shifted down (round-3's contrary note predates the
    # in-session A/B; cross-session bench deltas at this scale are
    # co-tenancy noise, NOTES_r04.md).
    v = materialize(unit_scalar_frame(base, vec_col, keep + ["__srp"], dim))
    cond = (F.col("a.__srp") == F.col("b.__srp")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    return (
        v.alias("a")
        .join(v.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(scalar_dot("a", "b", dim), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    assignments: DataFrame | None = None,
    quantizer: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with k-means, then screen each CLUSTER for near-duplicate
    pairs by exact cosine — the published recipe for pruning
    semantically redundant training data (Abbas et al., "SemDeDup",
    2023), where ``embedding_near_duplicates`` targets near-identical
    copies, this finds *same-meaning* redundancy at lower thresholds.

    Output: ``(id_col, cid, is_dup, max_cos)`` — one row per input
    vector. ``is_dup`` marks vectors with a LOWER-id cellmate at
    rounded cosine >= ``threshold`` (so the lowest-id member of every
    duplicate set survives — the deterministic keep rule); ``max_cos``
    is the strongest such neighbor, null for keepers.

    100 TB design: ``k`` is the blocking knob. Cells of ~10³ vectors
    (SemDeDup uses k ≈ n/1000) make the within-cell pair count
    n·cell_size/2 — LINEAR in n at fixed cell size, never O(n²); the
    tiny k here keeps the 2-iteration oracle CTE tractable. The fit is
    `operators/similarity.kmeans_lloyd` with ``assign=False``: a
    corpus below its ``DRIVER_VECTOR_BUDGET`` is fetched once and fit
    on the driver, a larger one runs the distributed loop; either way
    the fit returns only the centroids. Cluster assignment is then the
    scan-stage k-means projection (zero shuffle); the unit-normalized
    frame widens to scalar columns ONCE (codegen dot product) and feeds
    both self-join sides; pairs filter at the rounded threshold BEFORE the
    per-id aggregation, so only qualifying pairs reach the max-cos
    shuffle.

    THE quantizer caveat (measured, SCALING.md 100x sweep): brute
    Lloyd's assignment is k·n work, so holding cell size constant
    (k ∝ n) makes the FIT quadratic — 39x wall at 100x data.
    ``quantizer`` controls the blocking recipe when ``assignments``
    is absent:

    - ``"kmeans"`` — the published SemDeDup Lloyd fit, always (pays
      the k·n assignment; fine for one-shot fits, quadratic when
      k ∝ n);
    - ``"srp"`` — SRP hyperplane buckets (`similarity.srp_bucket`,
      ``ceil(log2(k))`` planes — one scan-stage projection, O(n)
      total; the sweep measures 1.5x at 100x);
    - ``"auto"`` (default) — k-means below
      ``similarity._KMEANS_LITERAL_LIMIT`` inlined doubles (k·dim), SRP
      above it. NOTE the proxy is PLAN size, not fit cost: k·dim says
      nothing about n, so a huge-n/small-k corpus stays on Lloyd (pass
      ``quantizer="srp"`` there) and a big-k/small-n fit switches even
      though Lloyd would cope (pass ``quantizer="kmeans"`` to force
      the published recipe — the broadcast-join assignment path
      handles any k·dim). The two recipes CLUSTER DIFFERENTLY, so the
      switch changes which pairs meet; the pair screen itself — the
      SemDeDup part — is identical for every quantizer.

    Pass ``assignments`` (any (id_col, cid) frame, e.g. a stored IVF
    coarse quantizer from `similarity.build_ivf_index`) to override
    all of this.

    A caller-supplied ``assignments`` frame need not be total: it is
    LEFT-joined, and vectors it does not cover surface in the output
    with ``cid`` null and ``is_dup`` false (null cells never pair, so
    unassigned vectors are conservatively kept — never silently
    dropped). Reference analogue: none (pydala2 has no embedding
    surface).
    """
    from pydala2_spark.operators.similarity import (
        _KMEANS_LITERAL_LIMIT,
        _assign_expr,
        _centroid_literal_sql,
        kmeans_lloyd,
        scalar_dot,
        srp_bucket,
        unit_scalar_frame,
        vector_dim,
    )

    if quantizer not in ("auto", "kmeans", "srp"):
        raise ValueError(f"quantizer must be auto|kmeans|srp, got {quantizer!r}")
    d = dim or vector_dim(df, vec_col)
    # Attach the cell id WITHOUT a corpus-by-id join wherever the
    # assignment is expressible as a scan-stage projection (the §8
    # "decide small, attach cheap" shape): an id equi-join of the
    # corpus with an n-row assignment frame shuffles the whole corpus
    # by a key that has nothing to do with where rows must end up
    # (cells). Only a caller-supplied `assignments` frame — an
    # external artifact — still joins (LEFT, so partial coverage
    # surfaces as cid-null keepers).
    base = None
    if assignments is None:
        use_kmeans = quantizer == "kmeans" or (
            quantizer == "auto" and k * d <= _KMEANS_LITERAL_LIMIT
        )
        if use_kmeans and k * d <= _KMEANS_LITERAL_LIMIT:
            # fit only (assign=False: no assignment frame over kmeans'
            # materialized copy); re-derive the identical argmin
            # as a projection over the corpus scan — same centroid
            # literal, same left-to-right distance fold, same cid-asc
            # tiebreak as _assign_frame's literal path
            _, cents = kmeans_lloyd(
                df,
                k=k,
                iters=iters,
                vec_col=vec_col,
                id_col=id_col,
                dim=d,
                assign=False,
            )
            cast_vec = f"transform({vec_col}, x -> cast(x as double))"
            # spread: the per-row widening downstream needs more than
            # the source file count of partitions on tiny inputs; the
            # old join's exchange provided that incidentally
            base = spread(df, id_col).select(
                F.col(id_col),
                F.col(vec_col),
                _assign_expr(_centroid_literal_sql(cents), vec=cast_vec)[
                    "cid"
                ].alias("cid"),
            )
        elif use_kmeans:
            # forced quantizer="kmeans" above the literal limit: the
            # broadcast-join assignment path needs the frame form
            assignments, _ = kmeans_lloyd(
                df, k=k, iters=iters, vec_col=vec_col, id_col=id_col, dim=d
            )
        else:
            # the measured 39x-at-100x Lloyd cliff: constant cell size
            # means k ∝ n and brute assignment is k·n. SRP cells give
            # ~k data-distributed blocks from one scan-stage
            # projection — same pair screen, O(n) quantizer; the
            # bucket expression rides the corpus scan directly.
            planes = max(1, math.ceil(math.log2(max(2, k))))
            base = spread(df, id_col).select(
                F.col(id_col),
                F.col(vec_col),
                srp_bucket(vec_col, planes, d).alias("cid"),
            )
    if base is None:
        base = df.select(id_col, vec_col).join(
            assignments.select(id_col, "cid"), id_col, "left"
        )
    v = materialize(unit_scalar_frame(base, vec_col, [id_col, "cid"], d))
    cond = (F.col("a.cid") == F.col("b.cid")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    # null cells (vectors a partial caller-supplied `assignments` frame
    # does not cover) can never satisfy the equi-join — drop them
    # BEFORE the self-join so the pair stage doesn't shuffle rows that
    # cannot pair; they re-enter via the final left join as keepers
    vp = v.filter(F.col("cid").isNotNull())
    dups = (
        vp.alias("a")
        .join(vp.alias("b"), cond)
        .select(
            F.col(f"b.{id_col}").alias(id_col),
            F.round(scalar_dot("a", "b", d), 4).alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .groupBy(id_col)
        .agg(F.max("__cos").alias("max_cos"))
    )
    return (
        v.select(id_col, "cid")
        .join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cid"),
            F.col("max_cos").isNotNull().alias("is_dup"),
            "max_cos",
        )
    )


# -- duplicate clusters (connected components) ------------------------


def _cc_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation + pointer-doubling round.

    ``stepped`` (the post-neighbour-join min-label frame) feeds BOTH
    sides of the pointer-doubling self-join; without materialization
    the neighbour-join/aggregate pipeline — the round's entire cost —
    runs twice per round (Catalyst emits no ReusedExchange here). A
    lazy :func:`materialize` rewrites the plan to a single RDD scan:
    the first stage that needs it computes and stores it, the second
    side reads the stored copy, and materialization folds into the
    caller's eager round checkpoint (no extra job)."""
    neighbour = edges.join(
        labels.withColumnRenamed("node", "dst"), "dst"
    ).select(F.col("src").alias("node"), "label")
    stepped = materialize(
        neighbour.union(labels).groupBy("node").agg(F.min("label").alias("label"))
    )
    # pointer doubling: label(v) <- label(label(v)). Every label is
    # itself a node, so the lookup frame is `stepped` re-keyed.
    jump = stepped.select(
        F.col("node").alias("label"), F.col("label").alias("label2")
    )
    return stepped.join(jump, "label").select(
        "node", F.col("label2").alias("label")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_edge_limit: int = 5_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (doc_id, cluster_id, cluster_size), cluster_id = min id in the
    component.

    Pair-level dedup under-removes: if A~B and B~C but A!~C, keeping
    "one of each pair" keeps two of {A,B,C}. Training-data pipelines
    cluster first, then keep one representative per cluster.

    Two execution paths, picked by measured edge count:

    - **Driver union-find** when the (deduplicated) edge list fits a
      driver budget (``driver_edge_limit``, default 5M edges ≈ 80 MB).
      The candidate-pair graph is orders of magnitude smaller than the
      corpus — at 100 TB of documents a 0.5 % near-dup rate is tens of
      millions of edges, not tens of billions — so this is usually the
      real path, and union-find is O(E α(E)) in milliseconds instead
      of O(diameter) Spark rounds.
    - **Distributed min-label propagation with pointer doubling** above
      the limit: each round a node adopts the smallest label among its
      neighbours' labels, then jumps to its label's label (hash-to-min
      flavour, Rastogi et al., "Finding Connected Components in
      Map-Reduce in Logarithmic Rounds", ICDE'13). Each round is one
      join against the static edge frame + a label-frame self-join;
      an eager :func:`materialize` truncates lineage round-over-round.
      Convergence is detected by the monotone label sum.

    The reference has no graph operator at all; this extends its dedup
    story (row-level ``unique``, pydala/io.py:242-259) to corpus level.
    """
    spark = pairs.sparkSession
    # one eager materialization, counted in the same job: pair
    # generation is the expensive part (LSH / blocked join upstream) —
    # never recompute it per round
    undirected, n_edges = materialize_counted(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).distinct(),
        "duplicate_clusters: edges",
    )

    if n_edges <= driver_edge_limit:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # one parallel Arrow-batched collect: the edge count is already
        # gated to the driver budget, and toPandas() is a single job
        # over all partitions — toLocalIterator() here cost one
        # *sequential* job per partition (32 round-trips ≈ 2 s at
        # sf0.1; the round-2 bench regression), regardless of size.
        edges_pdf = undirected.toPandas()
        for a, b in zip(edges_pdf["src"].tolist(), edges_pdf["dst"].tolist()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:  # union by min so the root IS the cluster id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(n, find(n)) for n in parent]
        id_type = undirected.schema["src"].dataType
        schema = T.StructType(
            [T.StructField("node", id_type), T.StructField("label", id_type)]
        )
        labels = spark.createDataFrame(rows, schema)
        size = Window.partitionBy("label")
        return labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1)).over(size).alias("cluster_size"),
        )

    edges = materialize(
        undirected.union(
            undirected.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        "duplicate_clusters: symmetric edges",
    )
    # round 1 fused into init: label(v) = min(v, min(neighbours)) —
    # cliques (the common near-dup shape) converge immediately
    labels = materialize(
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .withColumnRenamed("src", "node"),
        "duplicate_clusters: initial labels",
    )
    # labels only ever decrease, so sum(label) is strictly monotone:
    # unchanged sum == fixpoint. One cheap job on checkpointed data
    # replaces a join-based change count.
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        labels = materialize(_cc_step(edges, labels), "duplicate_clusters: round")
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    size = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(size).alias("cluster_size"),
    )


# -- cross-document segment duplication (boilerplate screen) ----------


def cross_doc_segment_dups(
    df: DataFrame,
    k: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document share of non-overlapping ``k``-token segments that
    also occur in at least one OTHER document — the cross-corpus
    boilerplate screen (repeated headers/footers/licence blocks) that
    complements the intra-document ``duplicate_ngram_fraction`` gate.

    Reference analogue: none (write-time row ``unique`` only,
    /root/reference/pydala/io.py:242-259); this is MassiveText-style
    repeated-passage screening re-expressed relationally.

    100 TB shape: segments are md5'd BEFORE the shuffle so the
    doc-frequency aggregation and the join back both move fixed-width
    16-byte keys, never segment text; one groupBy(seg) with map-side
    partial agg, one equi-join (seg frequencies are 1 row per distinct
    segment), one groupBy(doc). Documents shorter than ``k`` tokens
    have no segments and are absent from the output (mirrored by the
    oracle).
    """
    t = spread(df, id_col).select(
        F.col(id_col), F.split(F.col(text), " ").alias("__t")
    ).filter(F.size("__t") >= k)
    segs = t.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, int(size(__t) / {k})), "
                f"i -> md5(array_join(slice(__t, (i - 1) * {k} + 1, {k}), ' ')))"
            )
        ).alias("seg"),
    )
    nd = segs.groupBy("seg").agg(F.countDistinct(id_col).alias("nd"))
    dup = F.when(F.col("nd") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        segs.join(nd, "seg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(dup).alias("n_dup"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup").cast("double") / F.col("n_segs"), 4),
        )
    )


def duplicated_substring_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MAXIMAL duplicated-substring spans per document — the
    substring-level exact-dedup diagnostic of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed relationally: every SLIDING ``k``-token shingle that
    occurs in ≥ ``min_docs`` distinct documents marks its token
    interval as duplicated; overlapping/adjacent intervals merge into
    maximal spans (gaps-and-islands). Where the suffix-array recipe
    finds duplicated substrings of any length ≥ 50 chars, the sliding
    shingle finds exactly the duplicated runs of ≥ ``k`` tokens — the
    same screen with a length floor, and embarrassingly parallel.

    Complements :func:`cross_doc_segment_dups` (non-overlapping
    segments → a cheap coverage RATIO): sliding shingles catch
    duplicated passages at ANY alignment and return their exact
    boundaries, at k× the shingle volume.

    Output per document with ≥ ``k`` tokens: ``(id_col, n_tokens,
    n_spans, dup_tokens, dup_frac)`` — zero-span documents included
    (n_spans = 0), positions 1-based, spans inclusive.

    Reference analogue: none (write-time row ``unique`` only,
    /root/reference/pydala/io.py:242-259).

    100 TB shape: shingles are md5'd at the scan, so the frequency
    aggregation and the join back shuffle 16-byte keys + int
    positions, never text (k× the token count in ROWS, but fixed-width
    — the dominant cost is the corpus explode all token operators
    share). The islands window partitions per document over DUPLICATED
    positions only (usually a tiny fraction); the final join is
    |docs| × |docs-with-dups| on the id. Nothing all-pairs: documents
    never compare pairwise, only through the shingle-frequency table.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    t = spread(df, id_col).select(
        F.col(id_col), F.split(F.col(text), " ").alias("__t")
    ).filter(F.size("__t") >= k)
    base = t.select(F.col(id_col), F.size("__t").cast("long").alias("n_tokens"))
    sh = t.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k} + 1), "
                f"i -> struct(i AS pos, md5(array_join(slice(__t, i, {k}), ' ')) AS h))"
            )
        ).alias("s"),
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    dup_h = (
        sh.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    dup_pos = sh.join(dup_h, "h").select(id_col, "pos")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("pos")
        > F.coalesce(F.max(F.col("pos") + (k - 1)).over(w_prev), F.lit(-1)) + 1,
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = dup_pos.withColumn("brk", brk).withColumn(
        "g", F.sum("brk").over(Window.partitionBy(id_col).orderBy("pos"))
    )
    spans = isl.groupBy(id_col, "g").agg(
        F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                4,
            ).alias("dup_frac"),
        )
    )


def exact_substring_matches(
    df: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    max_occ_per_anchor: int = 1000,
) -> DataFrame:
    """MAXIMAL cross-document exact token runs as matched PAIRS —
    the ExactSubstr deduplication of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally. Where :func:`duplicated_substring_spans` reports
    each document's duplicated INTERVALS (who-agnostic), this returns
    WHO matches WHOM and exactly where: one row ``(id_a, id_b, pos_a,
    pos_b, match_len)`` per maximal matching run of >= ``min_len``
    tokens between two distinct documents, at ANY alignment
    (positions 1-based; ``id_a < id_b``).

    The suffix-array recipe becomes sorted-anchor + extend-and-verify:

    1. every sliding ``k``-token window is md5'd into an ANCHOR
       ``(doc, pos, hash, prev_token)`` — fixed-width rows, token text
       never shuffles;
    2. anchors equi-join on hash across documents (the relational
       stand-in for suffix-array adjacency), keeping only
       LEFT-MAXIMAL pairs — the run cannot extend left because one
       side is at position 1 or the preceding tokens differ — so each
       maximal run is generated exactly once, at its start, instead
       of once per covered anchor;
    3. each surviving pair joins back to the two token arrays and
       extends right by direct token comparison (``zip_with`` over
       array slices — JVM-side, no Python). The comparison re-checks
       the anchor's own ``k`` tokens, so an md5 collision yields
       ``match_len < k`` and is filtered: results are EXACT by
       construction, the hash is only a router.

    Anchors occurring more than ``max_occ_per_anchor`` times are
    dropped before pairing: a k-gram shared by n documents yields
    O(n^2) pairs, and at corpus scale ultra-common boilerplate anchors
    (license headers, navigation chrome) would otherwise quadratically
    dominate — the same clustering escape hatch Lee et al. apply.
    Runs whose STARTING anchor is that common are reported only if
    they also start at a rarer alignment; document-level screens
    (:func:`cross_doc_segment_dups`, :func:`remove_boilerplate_segments`)
    are the right tool for that regime.

    Reference analogue: none (write-time row ``unique`` only,
    /root/reference/pydala/io.py:242-259).

    100 TB shape: the anchor table is the corpus token count in
    fixed-width rows (16-byte hash + int + one token); frequency
    filter and pair join shuffle on the hash (map-side-combined agg,
    equi-join, occurrence cap bounds the blow-up); the extension joins
    move each participating document's token array once per matched
    doc, not per anchor. Nothing all-pairs, no windows, no Python.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    min_len = k if min_len is None else min_len
    if min_len < k:
        raise ValueError(f"min_len must be >= k ({k}), got {min_len}")
    if max_occ_per_anchor < 2:
        raise ValueError(
            f"max_occ_per_anchor must be >= 2, got {max_occ_per_anchor}"
        )
    t = (
        spread(df, id_col)
        .select(F.col(id_col), F.split(F.col(text), " ").alias("__t"))
        .filter(F.size("__t") >= k)
    )
    toks = materialize(t)  # consumed by anchors + both extension sides
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k} + 1), "
                f"i -> struct(i AS pos, "
                f"md5(array_join(slice(__t, i, {k}), ' ')) AS h, "
                f"if(i = 1, NULL, element_at(__t, i - 1)) AS prev))"
            )
        ).alias("s"),
    ).select(
        F.col(id_col),
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
        F.col("s.prev").alias("prev"),
    )
    sh = materialize(sh)  # pair join consumes it twice
    good = (
        sh.groupBy("h")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter((F.col("__nd") >= 2) & (F.col("__n") <= max_occ_per_anchor))
        .select("h")
    )
    a = sh.join(good, "h").select(
        F.col("h"),
        F.col(id_col).alias("id_a"),
        F.col("pos").alias("pa"),
        F.col("prev").alias("prev_a"),
    )
    b = sh.join(good, "h").select(
        F.col("h"),
        F.col(id_col).alias("id_b"),
        F.col("pos").alias("pb"),
        F.col("prev").alias("prev_b"),
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("pa") == 1)
            | (F.col("pb") == 1)
            | ~F.col("prev_a").eqNullSafe(F.col("prev_b"))
        )
        .select("id_a", "id_b", "pa", "pb")
    )
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"))
    ext = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "__maxlen",
            F.least(
                F.size("__ta") - F.col("pa"), F.size("__tb") - F.col("pb")
            )
            + F.lit(1),
        )
        .withColumn(
            "__mm",
            F.expr(
                "array_position(zip_with(slice(__ta, pa, __maxlen), "
                "slice(__tb, pb, __maxlen), (x, y) -> x = y), false)"
            ),
        )
        .withColumn(
            "match_len",
            F.when(F.col("__mm") == 0, F.col("__maxlen")).otherwise(
                F.col("__mm") - 1
            ),
        )
        .filter(F.col("match_len") >= min_len)
    )
    return ext.select(
        "id_a",
        "id_b",
        F.col("pa").alias("pos_a"),
        F.col("pb").alias("pos_b"),
        F.col("match_len").cast("long").alias("match_len"),
    )


def exact_substring_oracle_sql(
    docs_sql: str,
    k: int = 8,
    min_len: int | None = None,
    max_occ_per_anchor: int = 1000,
) -> str:
    """DuckDB SQL reproducing :func:`exact_substring_matches` exactly.
    ``docs_sql`` must yield columns ``(doc_id, text)``. The extension
    runs as a correlated min-over-generate_series (first mismatching
    offset) — integer/token-exact, so rows land bit-for-bit."""
    min_len = k if min_len is None else min_len
    return f"""
    WITH src AS ({docs_sql}),
    docs AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM src WHERE len(string_split(text, ' ')) >= {k}
    ),
    sh0 AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - {k} + 1)) AS pos
      FROM docs
    ),
    sh AS (
      SELECT doc_id, pos,
             md5(array_to_string(t[pos:pos + {k} - 1], ' ')) AS h,
             CASE WHEN pos = 1 THEN NULL ELSE t[pos - 1] END AS prev
      FROM sh0
    ),
    good AS (
      SELECT h FROM sh GROUP BY h
      HAVING count(DISTINCT doc_id) >= 2
         AND count(*) <= {max_occ_per_anchor}
    ),
    pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN good g ON a.h = g.h JOIN sh b ON a.h = b.h
      WHERE a.doc_id < b.doc_id
        AND (a.pos = 1 OR b.pos = 1 OR a.prev IS DISTINCT FROM b.prev)
    ),
    ext AS (
      SELECT p.ia, p.ib, p.pa, p.pb, da.t AS ta, db.t AS tb,
             least(len(da.t) - p.pa, len(db.t) - p.pb) + 1 AS maxlen
      FROM pairs p
      JOIN docs da ON da.doc_id = p.ia
      JOIN docs db ON db.doc_id = p.ib
    ),
    m AS (
      SELECT ia, ib, pa, pb,
             coalesce(list_min(list_filter(
                 generate_series(0, maxlen - 1),
                 i -> ta[pa + i] IS DISTINCT FROM tb[pb + i])),
               maxlen) AS mlen
      FROM ext
    )
    SELECT ia AS id_a, ib AS id_b, pa AS pos_a, pb AS pos_b,
           CAST(mlen AS BIGINT) AS match_len
    FROM m WHERE mlen >= {min_len}
    """


def remove_exact_substrings(
    df: DataFrame,
    k: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DELETION step of ExactSubstr dedup (Lee et al. 2022): cut
    every cross-document duplicated token run of >= ``k`` tokens from
    all documents EXCEPT one canonical copy, and return the rewritten
    corpus. Complements :func:`exact_substring_matches` (which reports
    the pairs) the way Lee et al.'s dedup tool follows its suffix-array
    scan: the corpus that comes out is what you train on.

    Semantics: a sliding ``k``-token shingle occurring in >= 2 distinct
    documents marks its token interval as duplicated; the OWNER of a
    duplicated shingle is the minimum ``id_col`` among the documents
    containing it. A token is removed iff some duplicated shingle
    covering it is owned by ANOTHER document. So of n identical
    copies of a passage, the copy in the smallest doc id survives and
    the other n-1 are cut — deterministic, order-free, and exactly
    one canonical copy per duplicated run. Documents shorter than
    ``k`` tokens pass through untouched.

    Output: ``(id_col, n_tokens, n_removed, clean_text)`` for EVERY
    input document (clean_text = surviving tokens joined by a single
    space; empty string when everything was cut).

    Reference analogue: none (write-time row ``unique`` only,
    /root/reference/pydala/io.py:242-259).

    100 TB shape: shingles shuffle as 16-byte md5 keys; ownership is
    one map-side-combined (min, countDistinct) aggregate; covered
    positions explode only for DUPLICATED shingles in NON-owner docs
    (k rows per cut shingle, not per corpus token); the rewrite joins
    the removed-position array back by doc id and filters the token
    array JVM-side. The per-token array_contains makes the rewrite
    O(tokens x removed) per document — linear for the common
    mostly-kept / tiny-removed case and bounded by document size,
    never corpus size. Nothing all-pairs, no windows, no Python.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    t = spread(df, id_col).select(
        F.col(id_col), F.split(F.col(text), " ").alias("__t")
    )
    toks = materialize(t)
    sh = toks.filter(F.size("__t") >= k).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k} + 1), "
                f"i -> struct(i AS pos, "
                f"md5(array_join(slice(__t, i, {k}), ' ')) AS h))"
            )
        ).alias("s"),
    ).select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    sh = materialize(sh)  # ownership agg + coverage probe
    owner = (
        sh.groupBy("h")
        .agg(
            F.min(id_col).alias("__owner"),
            F.countDistinct(id_col).alias("__nd"),
        )
        .filter(F.col("__nd") >= 2)
        .select("h", "__owner")
    )
    removed = (
        sh.join(owner, "h")
        .filter(F.col(id_col) != F.col("__owner"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"sequence(pos, pos + {k} - 1)")
            ).alias("__p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__p")).alias("__rem"))
    )
    out = toks.join(removed, id_col, "left").withColumn(
        "__rem", F.coalesce(F.col("__rem"), F.expr("array()"))
    )
    kept = F.expr(
        "transform(filter(transform(__t, (w, i) -> "
        "struct(w AS w, i + 1 AS p)), "
        "s -> NOT array_contains(__rem, s.p)), s -> s.w)"
    )
    return out.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        F.size("__rem").cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def exact_substring_removal_oracle_sql(docs_sql: str, k: int = 8) -> str:
    """DuckDB SQL reproducing :func:`remove_exact_substrings` exactly.
    ``docs_sql`` must yield columns ``(doc_id, text)``."""
    return f"""
    WITH src AS ({docs_sql}),
    docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM src),
    sh0 AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - {k} + 1)) AS pos
      FROM docs WHERE len(t) >= {k}
    ),
    sh AS (
      SELECT doc_id, pos,
             md5(array_to_string(t[pos:pos + {k} - 1], ' ')) AS h
      FROM sh0
    ),
    own AS (
      SELECT h, min(doc_id) AS owner FROM sh GROUP BY h
      HAVING count(DISTINCT doc_id) >= 2
    ),
    rem AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT s.doc_id,
               unnest(generate_series(s.pos, s.pos + {k} - 1)) AS p
        FROM sh s JOIN own o ON s.h = o.h
        WHERE s.doc_id <> o.owner
      )
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i
      FROM docs
    ),
    kept AS (
      SELECT tok.doc_id,
             coalesce(string_agg(tok.w, ' ' ORDER BY tok.i)
                        FILTER (WHERE rem.p IS NULL), '') AS clean_text,
             count(*) FILTER (WHERE rem.p IS NOT NULL) AS n_removed
      FROM tok LEFT JOIN rem
        ON rem.doc_id = tok.doc_id AND rem.p = tok.i
      GROUP BY tok.doc_id
    )
    SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(kept.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(kept.clean_text, '') AS clean_text
    FROM docs d LEFT JOIN kept ON kept.doc_id = d.doc_id
    """


def remove_boilerplate_segments(
    df: DataFrame,
    k: int = 3,
    min_docs: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REMOVE cross-corpus boilerplate and reassemble each document:
    every non-overlapping ``k``-token segment that occurs (verbatim) in
    at least ``min_docs`` distinct documents is cut; the surviving
    segments plus the incomplete tail (< ``k`` tokens, never cut)
    rejoin in original order. The C4/MassiveText "repeated passage
    removal" step as a relational plan — :func:`cross_doc_segment_dups`
    is the screen (score only); this is the edit.

    Output: ``(id_col, cleaned, n_kept, n_dropped)`` — documents whose
    cleaned text is empty or whitespace-only are dropped from the
    output entirely. The filter is on the TRIMMED joined text, not the
    token count: ``split('', ' ')`` yields ``['']``, so an empty or
    all-whitespace input would otherwise survive with a non-empty
    token array and an empty ``cleaned``.

    Reference analogue: none (write-time row ``unique`` only,
    /root/reference/pydala/io.py:242-259).

    100 TB shape: the doc-frequency aggregation and the join back move
    md5 keys (16 bytes/segment) and segment ORDINALS, never text; the
    rebuild is a scan-stage expression over the original token array.
    Per doc the dropped ordinal set rides as one small int array
    (``collect_set``, at most n_tokens/k entries), so the reassembly
    join is |docs| rows against |docs-with-drops| rows — when AQE
    broadcasts the drop side (the common case: only docs containing
    corpus-frequent segments appear there) document text crosses zero
    shuffles; past broadcast size it degrades to ONE hash join on the
    id, still never moving text through the frequency path. Segment
    dropping is corpus-global and deterministic; no sampling.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    t = spread(df, id_col).select(
        F.col(id_col),
        F.split(F.col(text), " ").alias("__t"),
    ).withColumn("__nseg", F.expr(f"int(size(__t) / {k})"))
    # docs shorter than k tokens have no segments (Spark's
    # sequence(1, 0) is the DESCENDING [1, 0], not empty — filter,
    # don't rely on it)
    segs = t.filter(F.col("__nseg") >= 1).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, __nseg), i -> struct(i AS sid, "
                f"md5(array_join(slice(__t, (i - 1) * {k} + 1, {k}), ' ')) AS h))"
            )
        ).alias("s"),
    ).select(id_col, "s.sid", "s.h")
    nd = segs.groupBy("h").agg(F.countDistinct(id_col).alias("nd"))
    drops = (
        segs.join(nd.filter(F.col("nd") >= min_docs), "h")
        .groupBy(id_col)
        .agg(F.collect_set("sid").alias("__drop"))
    )
    # slice(sequence(0, n), 2, n) = [1..n], and = [] at n = 0 — the
    # empty-safe ascending ordinal list (sequence(1, 0) would descend)
    kept_tokens = F.expr(
        f"concat(flatten(transform("
        f"filter(slice(sequence(0, __nseg), 2, __nseg), "
        f"i -> NOT array_contains(coalesce(__drop, array()), i)), "
        f"i -> slice(__t, (i - 1) * {k} + 1, {k}))), "
        f"slice(__t, __nseg * {k} + 1, size(__t) - __nseg * {k}))"
    )
    return (
        t.join(drops, id_col, "left")
        .withColumn("__kept", kept_tokens)
        .withColumn("cleaned", F.array_join("__kept", " "))
        .filter(F.length(F.trim(F.col("cleaned"))) > 0)
        .select(
            F.col(id_col),
            F.col("cleaned"),
            F.size("__kept").cast("long").alias("n_kept"),
            F.coalesce(F.size("__drop"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def fuzzy_matches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 2,
    block_expr: F.Column | None = None,
) -> DataFrame:
    """Edit-distance near-matches over short strings (names, titles,
    SKUs): pairs whose levenshtein distance is <= ``max_distance``,
    discovered inside equality blocks instead of all-pairs.

    Blocking key defaults to the string's LAST whitespace token (for
    '<modifier> <head-noun>' style names the head noun survives most
    single-token typos); callers pass ``block_expr`` to block on
    soundex, prefix, or any domain key. Within a block, a
    length-difference prefilter (|len a - len b| <= d, a necessary
    condition for distance <= d) runs before the levenshtein — the
    cheap rejection does most of the work.

    Output: one row per matched pair with ``id_a < id_b`` (each pair
    exactly once), both strings, and the distance.

    100 TB shape: ONE shuffle on the block key; cost is quadratic in
    BLOCK size, never corpus size — the levenshtein itself is a
    JVM-side expression (whole-stage codegen, no Python). The default
    last-token key gives |corpus|/|vocabulary| sized blocks; a hot
    block (skewed head noun) is the knob the caller owns — tighten
    ``block_expr`` (e.g. add a first-character or soundex conjunct)
    and the same plan re-applies. Nothing here collects, broadcasts
    the corpus, or compares across blocks.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    key = block_expr if block_expr is not None else F.element_at(
        F.split(F.col(text_col), r"\s+"), -1
    )
    t = df.select(
        F.col(id_col), F.col(text_col), key.alias("__blk"),
        F.length(text_col).alias("__len"),
    )
    a = t.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("name_a"),
        F.col("__blk"), F.col("__len").alias("__la"),
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("name_b"),
        F.col("__blk"), F.col("__len").alias("__lb"),
    )
    return (
        a.join(b, "__blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= max_distance)
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_distance)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


def linkage_scores(
    df: DataFrame,
    id_col: str,
    fields: dict[str, tuple[float, float]],
    block_expr: F.Column,
    upper: float = 6.0,
    lower: float = 0.0,
    candidate_fields: list[str] | None = None,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: score candidate
    pairs by summed log-likelihood field-agreement weights and
    classify match / possible / non_match against the caller's
    thresholds. ``fields`` maps column -> (m, u): m = P(agree | same
    entity), u = P(agree | different entities) — u defaults naturally
    to 1/cardinality for uniform fields. Weights are computed HERE
    (driver-side, plain Python log2) and enter the plan as literals,
    so the score is pure +/CASE arithmetic — deterministic in any
    engine, no transcendentals in the data path.

    Output: one row per in-block pair (``id_a < id_b``) with per-field
    ``agree_<f>`` booleans, the summed ``score`` (round 4), and the
    ``verdict``.

    ``candidate_fields`` turns on multi-pass blocking (standard
    record-linkage practice): instead of all in-block pairs, the
    candidate set is the UNION over those fields of pairs agreeing on
    (block key, field) — pairs disagreeing on every candidate field
    are never generated. This is LOSSLESS for the match class whenever
    ``upper`` cannot be reached without agreeing on at least one
    candidate field (with the usual field weights, any >=2-agreement
    match hits some pass); possible/non_match rows below that bar are
    deliberately dropped — they are the quadratic bulk.

    100 TB shape: identical to :func:`fuzzy_matches` — shuffles on the
    blocking key(s), quadratic only in (block x candidate-field) group
    size, all scoring inside whole-stage codegen. Multi-pass blocking
    is the scale lever: each pass's equi-join group is |block| /
    |field cardinality| and the union dedupes by pair id.
    """
    import math

    if not fields:
        raise ValueError("fields must be non-empty")
    for f, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {f!r}: need 0 < u < m < 1, got m={m}, u={u}"
            )
    t = df.select(F.col(id_col), *[F.col(f) for f in fields], block_expr.alias("__blk"))
    a = t.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).alias(f"__a_{f}") for f in fields],
        "__blk",
    )
    b = t.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).alias(f"__b_{f}") for f in fields],
        "__blk",
    )
    if candidate_fields:
        unknown = [f for f in candidate_fields if f not in fields]
        if unknown:
            raise ValueError(f"candidate_fields not in fields: {unknown}")
        # candidate ids only through the union+dedup (two longs per
        # pair — measured 3x faster than deduping full attribute
        # rows); attributes re-attach via two id equi-joins after
        passes = []
        for f in candidate_fields:
            passes.append(
                a.join(
                    b,
                    (a["__blk"] == b["__blk"])
                    & (a[f"__a_{f}"] == b[f"__b_{f}"]),
                )
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
        ids = passes[0]
        for p in passes[1:]:
            ids = ids.unionByName(p)
        ids = ids.dropDuplicates(["id_a", "id_b"])
        pairs = ids.join(a.drop("__blk"), "id_a").join(b.drop("__blk"), "id_b")
    else:
        pairs = a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b"))
    score = None
    out_cols = [F.col("id_a"), F.col("id_b")]
    for f, (m, u) in fields.items():
        wa = round(math.log2(m / u), 6)
        wd = round(math.log2((1.0 - m) / (1.0 - u)), 6)
        agree = F.col(f"__a_{f}") == F.col(f"__b_{f}")
        out_cols.append(agree.alias(f"agree_{f}"))
        term = F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    score = F.round(score, 4)
    verdict = (
        F.when(score >= upper, F.lit("match"))
        .when(score > lower, F.lit("possible"))
        .otherwise(F.lit("non_match"))
    )
    return pairs.select(*out_cols, score.alias("score"), verdict.alias("verdict"))


def canonicalize_clusters(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Disposition AFTER near-dup clustering: every document maps to
    the canonical representative of its duplicate cluster — the
    highest-``quality_col`` member, ties to the smallest id — and
    singletons map to themselves. Output: ``(id_col, canonical_id,
    is_kept)``; filtering ``is_kept`` yields the deduplicated corpus,
    keeping the version worth keeping (the curation step that plain
    min-id dedup gets wrong when replicas differ in quality).

    100 TB shape: the representative is ``max_by(id, struct(quality,
    -id))`` — ONE map-side-combined aggregation over the cluster
    frame, no per-cluster window (a window would funnel each cluster
    through one task; a boilerplate mega-cluster then stalls the
    stage). The final mapping is two id-keyed left joins of narrow
    frames; document text never moves.
    """
    clusters = duplicate_clusters(pairs)
    if id_col != "doc_id":  # duplicate_clusters emits doc_id
        clusters = clusters.withColumnRenamed("doc_id", id_col)
    members = clusters.join(df.select(id_col, quality_col), id_col)
    reps = members.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(quality_col), (-F.col(id_col)).alias("__neg")),
        ).alias("__canon")
    )
    out = (
        df.select(id_col)
        .join(clusters.select(id_col, "cluster_id"), id_col, "left")
        .join(reps, "cluster_id", "left")
    )
    canon = F.coalesce(F.col("__canon"), F.col(id_col))
    return out.select(
        F.col(id_col),
        canon.alias("canonical_id"),
        (canon == F.col(id_col)).alias("is_kept"),
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    shingle_k: int = 3,
) -> DataFrame:
    """Near-SUBSET pairs by SHINGLE containment |A∩B| / |A| over
    distinct ``shingle_k``-token windows — the asymmetric duplication
    Jaccard-blocked dedup structurally misses: a short document
    embedded verbatim in a long one (quoted article, doc+boilerplate
    wrapper, chunk vs source) has tiny Jaccard but containment ~1.
    Returns ``(id_a, id_b, n_a, n_b, containment)`` with A the
    (near-)contained smaller side: ``n_a < n_b``, ties broken
    ``id_a < id_b``. Shingles (not bare tokens, ``shingle_k=1``) are
    the default on purpose: token-SET containment degenerates to
    all-pairs density on any small shared vocabulary, while k-token
    windows demand actual phrase-level embedding. Documents shorter
    than ``shingle_k`` tokens have no shingle set and drop.

    Candidate rule: A's MINIMUM shingle hash must occur among B's
    shingle hashes. For a true subset this holds with probability 1
    (A's min shingle IS in B); for a near-subset at containment c it
    holds with probability >= c (the min of A is hash-uniform over
    A's shingles) — the same single-band recall model as
    ngram_jaccard_pairs, and the same exact verify after: candidates
    compute true containment and filter at ``threshold``.

    100 TB shape: the join keys are (block, 60-bit hash) — the B side
    explodes to (id, shingle-hash) rows but carries NO text; shingle
    arrays re-attach to the surviving candidate pairs via two
    id-keyed narrow joins before the exact verify. A hot (block,
    common-shingle) key can skew the candidate join only if a common
    shingle is some document's MINIMUM hash — rare by construction
    (mins are hash-uniform, so they spread over the shingle space)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    from pydala2_spark.functions.sketch import hash60
    from pydala2_spark.functions.text import shingles

    blocks = [F.col(c) for c in block_cols]
    base = df.select(
        F.col(id_col), *blocks, F.split(F.col(text), " ").alias("__tk")
    ).filter(F.size("__tk") >= shingle_k)
    elems = (
        F.array_distinct(F.col("__tk"))
        if shingle_k == 1
        else shingles(text, shingle_k, tokens_col="__tk")
    )
    t = materialize(
        base.select(F.col(id_col), *blocks, elems.alias("__tk")).withColumn(
            "__n", F.size("__tk")
        )
    )
    a_min = t.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__n").alias("n_a"),
        F.array_min(F.transform("__tk", lambda x: hash60(x))).alias("__mh"),
    )
    b_tok = t.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__n").alias("n_b"),
        F.explode("__tk").alias("__tok"),
    ).select(
        "id_b",
        *[f"__b_{c}" for c in block_cols],
        "n_b",
        hash60(F.col("__tok")).alias("__h"),
    )
    smaller = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    on = a_min["__mh"] == b_tok["__h"]
    for c in block_cols:
        on = on & (a_min[f"__b_{c}"] == b_tok[f"__b_{c}"])
    cand = (
        a_min.join(b_tok, on)
        .filter(smaller)
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    tk_a = t.select(F.col(id_col).alias("id_a"), F.col("__tk").alias("__tka"))
    tk_b = t.select(F.col(id_col).alias("id_b"), F.col("__tk").alias("__tkb"))
    cont = F.size(F.array_intersect("__tka", "__tkb")).cast(
        "double"
    ) / F.col("n_a").cast("double")
    return (
        cand.join(tk_a, "id_a")
        .join(tk_b, "id_b")
        .withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_a", "n_b", "containment")
    )


def lsh_band_tuning(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    strides: tuple = (1, 5),
    grid: tuple = ((2, 6), (3, 4), (4, 3), (6, 2)),
    target_j: float = 0.5,
    noise_j: float = 0.3,
    ndigits: int = 6,
) -> DataFrame:
    """Band-configuration tuning readout for the MinHash-LSH index:
    measure the corpus's ACTUAL pair-similarity distribution on a
    deterministic id-stride pair sample, then score each candidate
    (bands, rows_per_band) config with the analytic S-curve
    ``P(candidate) = 1 - (1 - j^r)^b`` — expected recall over
    target pairs (true Jaccard >= ``target_j``) and expected
    false-candidate rate over noise pairs (< ``noise_j``). The
    b/r choice every LSH deployment hand-waves, answered from the
    corpus itself before a single signature is built (pairs between
    ``noise_j`` and ``target_j`` are the gray zone and score neither).

    Output: one row per config — ``(bands, rows_per_band,
    n_target_pairs, n_noise_pairs, exp_recall, exp_noise_rate)``.

    Determinism: exact per-pair k-gram Jaccard rounds to 4 digits;
    the S-curve evaluates via REPEATED MULTIPLICATION (integer
    exponents — never pow(), whose last-ulp behavior differs between
    JVM Math.pow and C libm), round-12 terms accumulate as
    DECIMAL(38,12).

    100 TB shape: shingle sets compute once per doc (scan stage,
    lazily checkpointed — both pair sides read the copy); pairs are
    |strides| equi-joins on id arithmetic; configs explode on the
    reduced pair frame; one groupBy to |grid| rows.
    """
    from pydala2_spark.functions.text import shingles_sql

    sh = materialize(
        docs.select(
            F.col(id_col).alias("__i"), F.split(F.col(text), " ").alias("__tk")
        ).select("__i", F.expr(shingles_sql(text, k, "__tk")).alias("sh"))
    )
    ids = docs.select(
        F.col(id_col).alias("ia"),
        F.explode(F.array(*[F.lit(int(s)) for s in strides])).alias("s"),
    ).select("ia", (F.col("ia") + F.col("s")).alias("ib"))
    pr = (
        ids.join(
            sh.select(F.col("__i").alias("ia"), F.col("sh").alias("sh_a")),
            "ia",
        )
        .join(
            sh.select(F.col("__i").alias("ib"), F.col("sh").alias("sh_b")),
            "ib",
        )
        .select(
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("j")
        )
    )

    def ipow(col, e: int):
        out = None
        for _ in range(e):
            out = col if out is None else out * col
        return out

    arms = []
    for b, r in grid:
        catch = F.round(
            F.lit(1.0) - ipow(F.lit(1.0) - ipow(F.col("j"), r), b), 12
        ).cast("decimal(38,12)")
        arms.append(
            F.struct(
                F.lit(int(b)).alias("bands"),
                F.lit(int(r)).alias("rows_per_band"),
                catch.alias("catch"),
            )
        )
    e = pr.select("j", F.explode(F.array(*arms)).alias("c")).select(
        "j", "c.bands", "c.rows_per_band", "c.catch"
    )
    return (
        e.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.when(F.col("j") >= target_j, F.lit(1)))
            .cast("long")
            .alias("n_target_pairs"),
            F.count(F.when(F.col("j") < noise_j, F.lit(1)))
            .cast("long")
            .alias("n_noise_pairs"),
            F.round(
                F.sum(
                    F.when(F.col("j") >= target_j, F.col("catch"))
                ).cast("double")
                / F.count(F.when(F.col("j") >= target_j, F.lit(1))),
                ndigits,
            ).alias("exp_recall"),
            F.round(
                F.sum(
                    F.when(F.col("j") < noise_j, F.col("catch"))
                ).cast("double")
                / F.count(F.when(F.col("j") < noise_j, F.lit(1))),
                ndigits,
            ).alias("exp_noise_rate"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_target_pairs",
            "n_noise_pairs",
            "exp_recall",
            "exp_noise_rate",
        )
    )


def lsh_band_tuning_oracle_sql(
    table_sql: str = "SELECT doc_id, text FROM documents",
    k: int = 3,
    strides: tuple = (1, 5),
    grid: tuple = ((2, 6), (3, 4), (4, 3), (6, 2)),
    target_j: float = 0.5,
    noise_j: float = 0.3,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`lsh_band_tuning` — identical shingle
    sets, round-4 Jaccard, repeated-multiplication S-curve, round-12
    decimal accumulation."""
    probes = ", ".join(f"tk[i+{n}]" for n in range(k))
    gen = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(tk) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {probes})))"
    )
    ss = ", ".join(str(int(s)) for s in strides)

    def ipow(expr: str, e: int) -> str:
        return " * ".join([f"({expr})"] * e)

    legs = []
    for b, r in grid:
        catch = f"(1.0 - {ipow('1.0 - ' + ipow('j', r), b)})"
        legs.append(f"""
    SELECT {int(b)} AS bands, {int(r)} AS rows_per_band,
           CAST(count(CASE WHEN j >= {target_j!r} THEN 1 END) AS BIGINT)
             AS n_target_pairs,
           CAST(count(CASE WHEN j < {noise_j!r} THEN 1 END) AS BIGINT)
             AS n_noise_pairs,
           round(CAST(sum(CASE WHEN j >= {target_j!r} THEN
                   CAST(round({catch}, 12) AS DECIMAL(38,12)) END)
                 AS DOUBLE)
                 / count(CASE WHEN j >= {target_j!r} THEN 1 END),
                 {ndigits}) AS exp_recall,
           round(CAST(sum(CASE WHEN j < {noise_j!r} THEN
                   CAST(round({catch}, 12) AS DECIMAL(38,12)) END)
                 AS DOUBLE)
                 / count(CASE WHEN j < {noise_j!r} THEN 1 END),
                 {ndigits}) AS exp_noise_rate
    FROM pr""")
    return f"""
    WITH d AS (
      SELECT doc_id AS i, string_split(text, ' ') AS tk
      FROM ({table_sql})
    ), sh AS (
      SELECT i, {gen} AS sh FROM d
    ), pr AS (
      SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS j
      FROM sh a
      CROSS JOIN (SELECT unnest([{ss}]) AS s) st
      JOIN sh b ON b.i = a.i + st.s
    )
    {" UNION ALL ".join(legs)}
    """


def incremental_dedup_screen(
    spark,
    reference: DataFrame,
    incoming: DataFrame,
    index_path: str,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """End-to-end incremental dedup verdicts for an ingest batch: the
    daily-crawl-vs-existing-corpus screen every continuously-growing
    training corpus runs. Builds (or rebuilds) the persisted MinHash
    index over ``reference`` at ``index_path``
    (:func:`build_minhash_index`), md5-screens ``incoming`` for exact
    duplicates, band-screens the rest via
    :func:`incremental_near_dups`, and returns one verdict row per
    incoming document: ``(doc_id, verdict, n_matches)`` with verdict
    ``exact`` (same md5 as >= 1 reference doc, n_matches = how many),
    ``near`` (estimated signature Jaccard >= threshold against >= 1
    indexed doc), or ``unique``.

    100 TB shape: the reference TEXT is read exactly once (index
    build); the exact screen broadcasts nothing corpus-sized (md5
    join keyed on the hash); the near screen is the band-store
    equi-join — each ingest pays O(batch) hashing plus candidate
    verification against stored signatures.
    """
    build_minhash_index(
        spark,
        reference,
        index_path,
        text=text,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
    )
    ref_h = (
        reference.select(F.md5(F.col(text)).alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_exact"))
    )
    inc_h = incoming.select(F.col(id_col), F.md5(F.col(text)).alias("__h"))
    exact = inc_h.join(ref_h, "__h", "left").select(id_col, "__n_exact")
    near = (
        incremental_near_dups(
            spark, index_path, incoming, text=text, threshold=threshold
        )
        .groupBy("new_id")
        .agg(F.count_distinct("corpus_id").cast("long").alias("__n_near"))
        .withColumnRenamed("new_id", id_col)
    )
    return (
        exact.join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__n_exact").isNotNull(), F.lit("exact"))
            .when(F.col("__n_near").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.coalesce("__n_exact", "__n_near", F.lit(0).cast("long")).alias(
                "n_matches"
            ),
        )
    )
