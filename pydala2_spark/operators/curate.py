"""End-to-end corpus curation: the composite pipeline a training-data
build actually runs, as one operator.

quality gate → exact dedup → near-dup cluster dedup → per-document
disposition. Composes the verified primitives (functions.text quality
scoring, md5 exact groups, operators.dedup blocked-Jaccard pairs +
connected components) into a single DataFrame program — one logical
plan per stage, every stage oracle-checkable in plain SQL.

The reference has no curation surface (its dedup is row-level
``unique`` at write time, /root/reference/pydala/io.py:242-259); this
is the scale extension that makes the engine a corpus tool. At 100 TB:
the quality gate is a scan-time filter (no shuffle), exact dedup is
one hash shuffle on the content hash, and the near-dup stage only ever
joins inside (lang, length-bucket) blocks of quality survivors — the
candidate graph is orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize, materialize_counted
from pydala2_spark.functions.text import quality_score
from pydala2_spark.operators.dedup import duplicate_clusters, ngram_jaccard_pairs

# order-independent float aggregation: accumulate in exact decimal,
# round, cast back (same contract as queries._DEC)
_DEC = "decimal(38,6)"

STATUS_KEPT = "kept"
STATUS_LOW_QUALITY = "low_quality"
STATUS_EXACT_DUP = "exact_dup"
STATUS_NEAR_DUP = "near_dup"


def curate_corpus(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    length_col: str = "n_chars",
    min_quality: float = 0.58,
    langs: tuple[str, ...] = ("en", "de", "es"),
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Disposition per document: (doc_id, status) with status in
    {kept, low_quality, exact_dup, near_dup}.

    Precedence mirrors a real pipeline's pass order — a document is
    judged by the first stage that rejects it:

    1. ``low_quality``: quality_score < min_quality or language not in
       ``langs`` (cheap scan-side predicates first).
    2. ``exact_dup``: among quality survivors, not the min-id holder of
       its md5(text) group.
    3. ``near_dup``: among exact keepers, in a blocked-Jaccard
       near-dup cluster but not the cluster's min id.
    4. ``kept``: everything else.

    Recall model (inherited from :func:`ngram_jaccard_pairs`'s default
    min-token-hash blocking): a near-dup pair at Jaccard j enters the
    candidate graph with probability j — exact and near-exact dups
    always collide, borderline-threshold pairs may be missed. Raise
    ``ngram_jaccard_pairs(..., min_hash_bands=b)`` recall to
    1-(1-j)^b when the pipeline needs it; ``curate_corpus`` keeps the
    b=1 default so its disposition stays oracle-mirrorable in SQL.
    """
    toks = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.col(length_col),
        F.col(text),
        F.split(F.col(text), " ").alias("__tk"),
    )
    # scored feeds two branches (low + passing) and with_keeper feeds
    # three (exact, pairs, kept) — materialize both so the scan /
    # scoring / dedup-window run once, not once per branch. The
    # checkpoints are released with the returned plan, so nothing stays
    # pinned in the session's cache manager after the caller is done.
    scored = materialize(toks.withColumn("__q", quality_score(text, tokens_col="__tk")))
    passes = (F.col("__q") >= min_quality) & F.col(lang_col).isin(*langs)

    low = scored.filter(~passes).select(
        F.col(id_col), F.lit(STATUS_LOW_QUALITY).alias("status")
    )
    passing = scored.filter(passes)

    grp = Window.partitionBy(F.md5(F.col(text)))
    # ONE md5-window pass: with_keeper feeds both the exact-dup branch
    # and the survivor frame, so materialize IT (minus the heavy
    # token/score columns — the pair screen re-tokenizes from text)
    # instead of survivors, which would re-run the window for `exact`
    with_keeper = materialize(
        passing.withColumn("__keeper", F.min(id_col).over(grp)).drop("__q", "__tk")
    )
    exact = with_keeper.filter(F.col(id_col) != F.col("__keeper")).select(
        F.col(id_col), F.lit(STATUS_EXACT_DUP).alias("status")
    )
    survivors = with_keeper.filter(
        F.col(id_col) == F.col("__keeper")
    ).drop("__keeper")

    pairs = ngram_jaccard_pairs(
        survivors,
        text=text,
        id_col=id_col,
        block_cols=(lang_col,),
        length_col=length_col,
        threshold=jaccard_threshold,
    )
    clusters = duplicate_clusters(pairs)
    near = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col), F.lit(STATUS_NEAR_DUP).alias("status")
    )

    kept = (
        survivors.join(near.select(F.col(id_col)), id_col, "left_anti")
        .select(F.col(id_col), F.lit(STATUS_KEPT).alias("status"))
    )
    return low.unionByName(exact).unionByName(near).unionByName(kept)


def contamination_screen(
    corpus: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing any
    k-token shingle with a benchmark/eval set — the screen every
    training-data build runs before a model ships (n-gram overlap
    dedup against eval sets, as in GPT-3 appx. C / PaLM §C.1-style
    decontamination; k=8..13 token windows are the common range).

    Plan shape at 100 TB: the benchmark side is SMALL (eval sets are
    thousands of documents) — its distinct shingles broadcast, so the
    corpus-side explode joins against a hash map with NO shuffle of
    the corpus; the per-doc count aggregation shuffles only matched
    (doc, shingle) rows. Returns (id, n_shared_ngrams).
    """
    from pydala2_spark.functions.text import shingles

    # pre-split ONCE per doc: shingles() without a tokens_col re-runs
    # split(text) for every element_at probe (k probes x ~n shingles
    # per doc — measured 9.9s -> 0.6s at sf0.1 for k=8)
    bench_sh = (
        benchmark.select(F.split(F.col(text), " ").alias("__tk"))
        .select(F.explode(shingles(text, k, "__tk")).alias("sh"))
        .filter(F.size(F.split(F.col("sh"), " ")) == k)  # drop short-doc stubs
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.split(F.col(text), " ").alias("__tk")
    ).select(F.col(id_col), F.explode(shingles(text, k, "__tk")).alias("sh"))
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    group_col: str = "lang",
    id_col: str = "doc_id",
    tokens_expr=None,
) -> DataFrame:
    """Concat-and-chop sequence packing: documents are laid out in
    deterministic (group, id) order and chopped into fixed
    ``budget``-token training sequences; a document's sequence id is
    the budget bucket its first token lands in. The standard LLM
    pretraining packing layout — the operator reports per-sequence
    occupancy so a pipeline can size its batches.

    One window (prefix sum per group) + one aggregation; the window
    partitions by ``group_col`` so at 100 TB each language packs
    independently across executors. Returns
    (group, seq_id, n_docs, seq_tokens).
    """
    toks = tokens_expr if tokens_expr is not None else F.size(F.split("text", " "))
    # ROWS frame, not the default RANGE: with RANGE, duplicate
    # (group, id) rows are frame peers and each would see the sum
    # including ALL peers — wrong prefix sums whenever the id column
    # is not unique (and a mismatch vs the oracle's ROWS frame)
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = df.select(
        F.col(group_col), F.col(id_col), toks.alias("__n")
    ).withColumn("__start", F.sum("__n").over(w) - F.col("__n"))
    return (
        laid.withColumn("seq_id", F.floor(F.col("__start") / budget))
        .groupBy(group_col, "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("seq_tokens"),
        )
    )


def chunk_documents(
    df: DataFrame,
    size: int = 64,
    stride: int = 32,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token windows per document — the chunking step in
    front of an embedding pipeline (size-token chunks, stride-token
    hop; the final partial window is kept so no tail text is lost).

    One scan-side explode, no shuffle: at 100 TB the chunk frame
    streams straight into the embedding stage. Returns
    (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    tk = F.split(F.col(text), " ")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(F.col("__tk")) - F.lit(size)) / F.lit(stride)) + 1,
    ).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, __nc - 1), c -> struct("
        f"c AS chunk_id, slice(__tk, c * {stride} + 1, {size}) AS ct))"
    )
    return (
        df.select(F.col(id_col), tk.alias("__tk"))
        .withColumn("__nc", n_chunks)
        .select(F.col(id_col), F.explode(chunks).alias("ch"))
        .select(
            F.col(id_col),
            F.col("ch.chunk_id").alias("chunk_id"),
            F.size("ch.ct").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("ch.ct")).alias("chunk_text"),
        )
    )


def source_mix_report(
    df: DataFrame,
    text: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Data-mixture report: per (source, lang) document counts, token
    totals, and share of the corpus — the summary a training-data
    recipe is negotiated over. One aggregation; the share is a window
    over the grouped (tiny) frame, so corpus-side work is a single
    map-side-combined shuffle at any scale."""
    g = df.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text), " "))).alias("n_tokens"),
    )
    total = Window.partitionBy()
    return g.select(
        source_col,
        lang_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(total), 6).alias(
            "token_share"
        ),
    )


def temperature_resample_rates(
    df: DataFrame,
    alpha: float = 0.5,
    text: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Temperature-based mixture reweighting: per (source, lang)
    sampling rates that move the corpus token mix toward
    ``share^alpha`` (normalized) — the standard multilingual/multi-
    source rebalancing rule (alpha<1 upweights rare groups; alpha=1 is
    the natural mix; alpha=0 uniform), e.g. the T=5 sampling of mBERT/
    XLM-R or the domain weights a pretraining recipe negotiates.

    Derivation: target p_g ∝ share_g^alpha; the per-document keep rate
    is p_g / share_g ∝ share_g^(alpha-1), scaled so the largest rate
    is 1 (pure downsampling — never asks a group for more documents
    than it has). Returns (source, lang, n_docs, n_tokens, share,
    rate); feed ``rate`` to a deterministic md5-coin filter (see
    :func:`stratified_sample`) to materialize the resampled corpus.

    One map-side-combined aggregation over the corpus; the rate math
    runs on the grouped frame (|groups| rows) — trivially scale-safe.
    """
    g = df.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text), " "))).alias("n_tokens"),
    )
    total = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(total)
    raw = F.pow(share, F.lit(alpha - 1.0))
    rate = raw / F.max(raw).over(total)
    return g.select(
        source_col,
        lang_col,
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("share"),
        F.round(rate, 6).alias("rate"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the domain/language
    mixing step of a training-data recipe (e.g. downweight a crawl
    source without losing reproducibility).

    The coin is md5(id) — NOT rand() — so the sample is stable across
    runs, executors, and engines (the DuckDB oracle mirrors it bit for
    bit), and resuming a pipeline re-selects the identical rows. Scan-
    side filter, no shuffle; at 100 TB it composes with partition
    pruning because it's a plain predicate.
    """
    u = _md5_coin(id_col)
    rate = F.lit(int(default_rate * 1_000_000))
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(int(r * 1_000_000))).otherwise(rate)
    return df.filter(u < rate)


def _md5_coin(id_col: str, prefix: str = "") -> F.Column:
    """The package-wide deterministic coin: uniform int in [0, 1e6)
    from md5(prefix || id). ONE definition (mirrored in the DuckDB
    oracles) so every sampling/splitting decision shares the same
    reproducibility contract; ``prefix`` DOMAIN-SEPARATES independent
    decisions — two coins with different prefixes are uncorrelated,
    two with the same prefix are identical by design."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )


def source_quota_cap(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    descending: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quota cap: keep at most ``cap`` documents per
    ``group_col``, choosing by ``order_col`` (e.g. a quality score,
    ``descending=True``) with ``id_col`` as the deterministic
    tiebreak — the domain-balance step of a data recipe
    (:func:`stratified_sample` thins by RATE; this bounds by COUNT,
    which is what stops one crawl domain from dominating a mixture
    regardless of its size).

    Reference analogue: none (extension surface).

    100 TB shape: one ``row_number`` window per group — a single hash
    shuffle on ``group_col``, rank computed within partitions, rows
    beyond the cap never leave the filter. Skewed groups (one giant
    domain) are the expected case: the window sorts that group's
    partition but emits only ``cap`` rows from it. Deterministic by
    the (order, id) composite sort — reruns keep identical documents.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(group_col).orderBy(oc, F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
) -> DataFrame:
    """Per-document keyword extraction: top-``top_n`` terms by TF-IDF.

    The classic corpus-analysis primitive (and the feature step in
    front of keyword-based filtering / topic bucketing in a data
    recipe). Reference has no analogue — extension surface.

    Spark-first, 100 TB notes: one explode + two hash aggregations.
    TF is groupBy(doc, term) with map-side partial agg; DF (document
    frequency) re-aggregates the TF frame (already one row per
    (doc, term), so no second corpus scan); N arrives via a broadcast
    single-row count frame — NO driver collect, the whole thing is one
    lazy plan. The DF->TF join is on term: skew on hot terms is
    bounded because the DF side is one row per term (broadcastable).

    idf = ln(N / df); score = tf * idf rounded to 4 — both engines
    evaluate ln over the same doubles, and the rounding absorbs
    last-ulp libm differences.
    """

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("term")
    ).filter(F.length("term") >= min_len)
    # materialize the (doc, term, tf) frame once: its two consumers
    # (the DF aggregate and the scoring join) would otherwise each
    # re-scan the corpus through the plan fork (no ReusedExchange)
    tf = materialize(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str] | str,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k document retrieval by Okapi BM25 (Robertson et al., the
    public TREC ranking function) — the lexical-search primitive a
    data pipeline uses for targeted corpus probes (contamination
    spot-checks, topic pulls, eval-set mining). Reference has no
    analogue — extension surface.

    ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)`` (the +1 keeps it
    positive for terms in most documents);
    ``score = Σ_t idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Output: ``(id_col, bm25)`` rounded to 4, ordered by the ROUNDED
    score desc with ``id_col`` as tiebreaker (the package's
    deterministic-top-k rule), limited to ``top_k``.

    100 TB notes: the corpus reads ONCE — the (doc, term, count) frame
    is aggregated from a single explode and materialized via
    `frames.materialize` (Catalyst pushes the query-term filter
    below a shared aggregate, which forks the plan into one corpus
    scan per consumer otherwise — measured 4 FileScans before the
    checkpoint, 1 after). Doc lengths, postings and df all derive from
    that Zipf-small frame; N/avgdl arrive as a broadcast one-row
    aggregate — no driver collect. The final top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject, a distributed
    partial top-k, never a global sort."""

    terms = query_terms.split() if isinstance(query_terms, str) else list(query_terms)
    if not terms:
        raise ValueError("bm25_search needs at least one query term")
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("term")
    )
    per_doc = materialize(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = per_doc.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = per_doc.filter(F.col("term").isin(terms))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum(F.col("s").cast(_DEC)).cast("double"), 4).alias("bm25")
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(top_k)


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    n: int,
    text: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public NeurIPS method): score every raw document by the
    log-importance ratio of an add-½-smoothed TARGET unigram LM over
    the RAW unigram LM, then Gumbel-top-``n`` resample — the standard
    trick that turns importance weights into an exact without-
    replacement sample. The published recipe uses hashed n-gram
    features; the unigram table here is the same relational shape
    (swap the tokenizer to change feature space). Reference analogue:
    none — extension surface.

    The Gumbel noise is the package md5-coin (`_md5_coin`, domain-
    separated by ``salt``) mapped to (0,1) and through
    ``-ln(-ln(u))`` — fully deterministic and engine-portable, so the
    resample is reproducible AND oracle-checkable.

    Output: ``(id_col, log_weight, gumbel_key)`` for the ``n``
    selected documents, ordered by the ROUNDED key desc with
    ``id_col`` tiebreak (deterministic-top-k rule).

    100 TB notes: the raw corpus reads ONCE — its (doc, tok, count)
    frame materializes via `frames.materialize` and feeds both
    the raw unigram table and the per-doc scoring join (the fork would
    otherwise re-scan the corpus per consumer); the target corpus
    reads once more. The log-ratio table is one row per raw-vocab
    token (Zipf-small, NOT broadcast-hinted — same rationale as
    `unigram_logprob_scores`: AQE broadcasts it when it is actually
    small). V / totals arrive as broadcast one-row aggregates; per-doc
    weights are a decimal-accumulated sum (order-independent); the
    selection is ``orderBy().limit(n)`` → distributed partial top-k.
    Target-only tokens never score (every scored token comes from a
    raw document, hence the raw vocab)."""

    raw_toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("tok")
    )
    per_doc = materialize(
        raw_toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    q_counts = per_doc.groupBy("tok").agg(F.sum("c").alias("qc"))
    p_counts = (
        target.select(F.explode(F.split(F.col(text), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    # totals + vocab size from the count frames themselves (no second
    # corpus pass); target total counts only raw-vocab tokens so both
    # engines smooth over the identical event space. The table is
    # vocab-sized — materialize it so its two consumers (consts + the
    # ratio join) don't re-scan the target corpus through the fork.
    table = materialize(
        q_counts.join(p_counts, "tok", "left").na.fill({"pc": 0})
    )
    consts = table.agg(
        F.sum("qc").alias("tq"),
        F.sum("pc").alias("tp"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = table.crossJoin(F.broadcast(consts)).select(
        "tok",
        (
            F.log(
                (F.col("pc") + F.lit(0.5))
                / (F.col("tp") + F.lit(0.5) * F.col("v"))
            )
            - F.log(
                (F.col("qc") + F.lit(0.5))
                / (F.col("tq") + F.lit(0.5) * F.col("v"))
            )
        ).alias("lr"),
    )
    logw = per_doc.join(lr, "tok").groupBy(id_col).agg(
        F.round(F.sum((F.col("c") * F.col("lr")).cast(_DEC)).cast("double"), 6)
        .alias("log_weight")
    )
    u = (_md5_coin(id_col, f"{salt}:") + F.lit(0.5)) / F.lit(1_000_000.0)
    keyed = logw.withColumn(
        "gumbel_key",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 4),
    ).withColumn("log_weight", F.round("log_weight", 4))
    return keyed.orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc()).limit(n)


def unigram_logprob_scores(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own MLE unigram model — the CCNet-style "perplexity proxy" quality
    signal: documents of typical language score high (close to 0),
    gibberish / rare-token soup scores low (very negative). The
    production recipe swaps the self-trained unigram table for a
    KenLM-style model trained on a trusted corpus; the relational
    shape (token→logprob join + per-doc mean) is identical.

    Output: ``(id_col, n_tokens, avg_logprob)`` with ``avg_logprob =
    mean over tokens of ln(count(tok)/total_tokens)``, decimal-
    accumulated then rounded to 4 (order-independent, oracle-exact).

    100 TB notes: one corpus explode + two hash aggregations + one
    join (the total-token count is an aggregate OF the vocab frame,
    never a second corpus pass).
    The unigram table is one row per distinct token (Zipf: far
    smaller than the corpus) — deliberately NOT broadcast-hinted:
    a web-scale vocabulary can reach 10⁸+ rows, where a forced
    broadcast OOMs the driver; AQE broadcasts it automatically
    whenever it is actually small, and falls back to a shuffled
    join keyed on the already-deduplicated (doc, token, count)
    frame otherwise. Total-token count arrives as a broadcast
    single-row frame — no driver collect anywhere. The (doc, token,
    count) frame materializes once (`frames.materialize`): its
    two consumers — the vocab aggregate and the scoring join — would
    otherwise each re-scan the corpus (Catalyst emits no
    ReusedExchange across the fork; measured 3 FileScans before,
    1 after).
    Reference analogue: none (extension surface).
    """

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("tok")
    )
    per_doc = materialize(
        toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = per_doc.groupBy("tok").agg(F.sum("c").alias("cc"))
    # total tokens from the VOCAB aggregate (sum of counts), not a
    # second explode of the corpus — the count pass reuses the frame
    # the join needs anyway
    total = vocab.agg(F.sum("cc").alias("n"))
    lp = (
        per_doc.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "c",
            F.log(F.col("cc").cast("double") / F.col("n").cast("double")).alias(
                "lp"
            ),
        )
    )
    dec = "decimal(38,6)"
    return lp.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.sum((F.col("lp") * F.col("c")).cast(dec)).cast("double")
            / F.sum("c"),
            4,
        ).alias("avg_logprob"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average CONDITIONAL bigram log-probability under the
    corpus's own MLE bigram model — the next step up from
    :func:`unigram_logprob_scores` on the CCNet quality ladder:
    ``lp(w_i | w_{i-1}) = ln(c(w_{i-1} w_i) / c(w_{i-1} ·))``, averaged
    over the document's bigram positions. Word-salad that passes a
    unigram screen (common words, shuffled) scores LOW here because the
    transitions are unseen-rare; natural prose scores high. The
    production recipe swaps the self-trained table for a KenLM-style
    model; the relational shape (bigram→logprob join + per-doc mean)
    is identical.

    Output: ``(id_col, n_bigrams, avg_logprob)`` — documents with fewer
    than 2 tokens have no bigrams and are absent (mirrored by the
    oracle). Decimal-accumulated then rounded to 4, so the mean is
    shuffle-order-independent and oracle-exact.

    100 TB notes: one corpus explode to (prev, word) pairs, then every
    further stage runs on the deduplicated (doc, prev, word, count)
    frame — Zipf-small relative to the corpus — which materializes once
    (`frames.materialize`; its three consumers — bigram table,
    context table via an aggregate OF the bigram table, scoring join —
    would otherwise each re-explode the corpus). The bigram vocabulary
    is deliberately NOT broadcast-hinted (can reach 10⁹ rows at
    web scale; AQE broadcasts it when actually small).
    Reference analogue: none (extension surface).
    """

    toks = df.select(
        F.col(id_col), F.split(F.col(text), " ").alias("__t")
    ).filter(F.size("__t") >= 2)
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), "
                "i -> struct(element_at(__t, i) AS p, element_at(__t, i + 1) AS w))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.p").alias("p"), F.col("bg.w").alias("w"))
    per_doc = materialize(
        pairs.groupBy(id_col, "p", "w").agg(F.count(F.lit(1)).alias("c"))
    )
    bi = per_doc.groupBy("p", "w").agg(F.sum("c").alias("cpw"))
    # context totals from the BIGRAM aggregate, not a second corpus pass
    ctx = bi.groupBy("p").agg(F.sum("cpw").alias("cp"))
    lp = (
        per_doc.join(bi, ["p", "w"])
        .join(ctx, "p")
        .select(
            F.col(id_col),
            "c",
            F.log(F.col("cpw").cast("double") / F.col("cp").cast("double")).alias(
                "lp"
            ),
        )
    )
    dec = "decimal(38,6)"
    return lp.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.round(
            F.sum((F.col("lp") * F.col("c")).cast(dec)).cast("double")
            / F.sum("c"),
            4,
        ).alias("avg_logprob"),
    )


def train_test_split(
    df: DataFrame,
    test_fraction: float = 0.1,
    val_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic corpus split: adds a ``split`` column
    (``train`` / ``val`` / ``test``) derived from md5(salt || id) — the
    train/eval partitioning step every training-data pipeline ends
    with. NOT ``rand()``: the assignment is a pure function of the id,
    so it is stable across runs, executors, engines (the DuckDB oracle
    mirrors it bit for bit), resumable pipelines re-derive identical
    splits, and a document NEVER migrates between train and test when
    the corpus is re-filtered or re-sharded — the leakage property
    rand()-splits silently violate. ``salt`` rotates the assignment
    (new experiment, same determinism). The coin is DOMAIN-SEPARATED
    from :func:`stratified_sample`'s (``split:`` prefix): without it
    the two decisions share one md5 and compose pathologically — a
    10 %-sampled stratum would land 100 % in a 10 % test split.

    Scan-side projection (one md5 + one modulo per row, whole-stage
    codegen); composes with partition pruning because downstream
    ``filter(split = 'train')`` is a plain predicate. At 100 TB,
    writing with ``partitionBy("split")`` gives physically separated
    splits from this same column. Reference analogue: none.
    """
    if not 0 <= test_fraction <= 1 or not 0 <= val_fraction <= 1:
        raise ValueError("fractions must be in [0, 1]")
    if test_fraction + val_fraction >= 1:
        raise ValueError("test_fraction + val_fraction must leave room for train")
    u = _md5_coin(id_col, prefix=f"split:{salt}")
    t = int(test_fraction * 1_000_000)
    v = int(val_fraction * 1_000_000)
    return df.withColumn(
        "split",
        F.when(u < t, F.lit("test"))
        .when(u < t + v, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def zipf_fit(df: DataFrame, text: str = "text", top_n: int = 1000) -> DataFrame:
    """Corpus-health diagnostic: least-squares fit of the Zipf law
    ``ln(freq) ~ ln(rank)`` over the ``top_n`` most frequent terms.
    Natural language sits near slope -1; a slope far shallower says
    boilerplate/templated text (too-uniform vocabulary), far steeper
    says repetitive spam — both worth a look before training on a
    crawl. Returns ONE row: (n_terms, slope, intercept, r2).

    Reference analogue: none — extension surface.

    100 TB shape: one explode + one map-side-combining term count (the
    only |corpus|-sized step), then the rank window runs over the
    VOCABULARY (bounded by language, not corpus size; the single-
    partition window is |vocabulary| rows by construction). Moment
    sums accumulate in DECIMAL so partition order cannot move a bit;
    the final round absorbs last-ulp libm ln differences (same policy
    as tfidf/bm25).
    """
    if top_n < 3:
        raise ValueError(f"top_n must be >= 3, got {top_n}")
    counts = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    xy = (
        counts.select(F.row_number().over(w).alias("r"), "c")
        .filter(F.col("r") <= top_n)
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(_DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def token_pmi(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 5,
) -> DataFrame:
    """Pointwise mutual information over token co-occurrence at the
    document grain: for token pairs appearing together in >=
    ``min_pair_docs`` documents, ``pmi = ln(n * df_ab / (df_a *
    df_b))`` — the classic association score behind collocation
    discovery, topic seeds, and embedding sanity checks (word2vec's
    SGNS factorizes a shifted version of this matrix). Positive =
    tokens travel together; negative = they repel.

    Output: ``(tok_a, tok_b, df_a, df_b, df_ab, pmi)`` with
    ``tok_a < tok_b``.

    Reference analogue: none — extension surface.

    100 TB shape: the corpus collapses to (doc, distinct token) ONCE;
    the within-document token-pair explode is quadratic in DOCUMENT
    vocabulary (bounded by document length, not corpus size) and
    aggregates map-side to |vocabulary|² pair counts at most; the
    unary df frame is |vocabulary| rows and broadcasts onto the pair
    frame twice. The corpus count is a broadcast one-row frame — no
    driver collect.
    """

    toks = materialize(
        df.select(
            F.col(id_col),
            F.array_sort(F.array_distinct(F.split(F.col(text), " "))).alias("__t"),
        )
    )
    uni = toks.select(F.explode("__t").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("df_u")
    )
    n = df.select(F.count(F.lit(1)).alias("__n"))
    # within-doc ordered pairs from the sorted distinct-token array:
    # explode positions i<j — scan-stage, quadratic in doc vocabulary
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "flatten(transform(__t, (a, i) -> "
                    "transform(slice(__t, i + 2, size(__t) - i - 1), "
                    "b -> struct(a AS ta, b AS tb))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.ta").alias("tok_a"), F.col("p.tb").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .filter(F.col("df_ab") >= min_pair_docs)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("df_u").alias("df_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("df_u").alias("df_b"))
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "df_a",
            "df_b",
            "df_ab",
            F.round(
                F.log(
                    F.col("__n").cast("double")
                    * F.col("df_ab")
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def heaps_fit(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    points: int = 50,
) -> DataFrame:
    """Heaps'-law fit ``V(N) ~ K * N^beta``: how vocabulary grows with
    corpus size. Natural corpora sit near beta 0.4-0.6; beta near 0
    says a closed template vocabulary (synthetic/boilerplate), near 1
    says id-like token churn. The companion diagnostic to
    :func:`zipf_fit`. Returns ONE row: ``(n_points, beta, intercept,
    r2)`` — beta is the log-log slope, intercept is ln K.

    The growth curve samples at ``points`` id-range buckets: per
    bucket, token mass and NEW vocabulary (tokens whose first
    appearance — min doc id — falls in the bucket), then running sums
    over the bucket frame. Curve points with zero cumulative mass
    (empty leading buckets) drop out.

    Reference analogue: none — extension surface.

    100 TB shape: two corpus-sized map-side-combining aggs (per-bucket
    token counts; per-token min-id first appearances folded to
    per-bucket new-vocab counts) — the running-sum window and the OLS
    then run over ``points`` rows. No single-partition pass ever sees
    the corpus; the max-id bound is a broadcast one-row frame.
    """
    if points < 3:
        raise ValueError(f"points must be >= 3, got {points}")
    mx = df.agg(F.max(F.col(id_col)).alias("__mx"))
    bucket = F.floor(
        F.col(id_col).cast("double") * points / (F.col("__mx") + 1)
    ).cast("long")
    base = df.crossJoin(F.broadcast(mx)).select(
        bucket.alias("__b"),
        F.col(id_col),
        F.split(F.col(text), " ").alias("__t"),
    )
    mass = base.groupBy("__b").agg(F.sum(F.size("__t")).alias("__toks"))
    firsts = (
        base.select(F.col(id_col), F.explode(F.array_distinct("__t")).alias("tok"))
        .groupBy("tok")
        .agg(F.min(id_col).alias("__first"))
    )
    newv = (
        firsts.crossJoin(F.broadcast(mx))
        .select(
            F.floor(
                F.col("__first").cast("double") * points / (F.col("__mx") + 1)
            )
            .cast("long")
            .alias("__b")
        )
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__newv"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        mass.join(newv, "__b", "left")
        .select(
            "__b",
            F.sum("__toks").over(w).alias("__N"),
            F.sum(F.coalesce(F.col("__newv"), F.lit(0))).over(w).alias("__V"),
        )
        .filter((F.col("__N") > 0) & (F.col("__V") > 0))
    )
    xy = curve.select(
        F.log(F.col("__N").cast("double")).alias("x"),
        F.log(F.col("__V").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(_DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def _term_bucket(term, buckets: int):
    """Stable term -> partition bucket (md5-derived, engine-portable)."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long") % buckets
    )


def build_text_index(
    spark,
    df: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Materialize a persisted INVERTED INDEX for repeated lexical
    search: ``<path>/postings`` holds (doc, term, tf) hive-partitioned
    by a stable term bucket, ``<path>/terms`` the per-term document
    frequencies (same partitioning), ``<path>/doclen`` the per-doc
    token counts. The search-engine analogue of
    :func:`dedup.build_minhash_index` — build once over the corpus,
    then every :func:`bm25_search_indexed` probe reads ONLY the query
    terms' bucket partitions: at 100 TB the corpus text is read
    exactly once ever (here), and each search is a partition-pruned
    scan of |query terms| / ``buckets`` of the postings plus the
    |docs|-sized doclen join. Reference has no search surface at all.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("term")
    )
    per_doc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = per_doc.withColumn("bucket", _term_bucket(F.col("term"), buckets))
    per_doc.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    # derive the small tables from the WRITTEN postings — one corpus
    # scan total, and the index is self-consistent by construction
    p = spark.read.parquet(f"{path}/postings")
    p.groupBy("term", "bucket").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/terms")
    p.groupBy(id_col).agg(F.sum("tf").alias("dl")).write.mode(
        "overwrite"
    ).parquet(f"{path}/doclen")


def refresh_text_index(
    spark,
    df_new: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Fold NEW documents into an existing text index without touching
    the already-indexed corpus: postings/doclen for unseen ids append;
    the vocabulary-sized terms table rewrites from old df + the
    appended docs' term counts (exact — appended ids are disjoint from
    indexed ids by the anti-join). StatsIndex discipline: incremental
    cost tracks the BATCH, never the corpus."""
    seen = spark.read.parquet(f"{path}/doclen").select(id_col)
    fresh = df_new.join(seen, id_col, "left_anti")
    toks = fresh.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("term")
    )
    per_doc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = per_doc.withColumn("bucket", _term_bucket(F.col("term"), buckets))
    # materialize the delta before any index table it feeds is
    # overwritten/appended (lazy reads of a path being written race)
    per_doc = materialize(per_doc)
    per_doc.count()
    delta_df = per_doc.groupBy("term", "bucket").agg(
        F.count(F.lit(1)).alias("df")
    )
    old_terms = spark.read.parquet(f"{path}/terms")
    merged = (
        old_terms.select("term", "bucket", "df")
        .unionByName(delta_df)
        .groupBy("term", "bucket")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    merged = materialize(merged)
    merged.count()  # read old terms fully BEFORE overwriting them
    per_doc.write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")
    per_doc.groupBy(id_col).agg(F.sum("tf").alias("dl")).write.mode(
        "append"
    ).parquet(f"{path}/doclen")
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/terms.tmp"
    )
    # atomic-ish swap via rename (local/HDFS); object stores should
    # route through plans/snapshots for the manifest discipline
    from pydala2_spark.plans.fs import replace_dir

    replace_dir(spark, f"{path}/terms.tmp", f"{path}/terms")


def bm25_search_indexed(
    spark,
    path: str,
    query_terms: list[str] | str,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """BM25 over the persisted index: identical scores, ordering and
    output shape to :func:`bm25_search`, but the only inputs are the
    query terms' BUCKET PARTITIONS of postings/terms (directory-pruned
    at plan time) plus doclen — the corpus text is never read."""
    terms = query_terms.split() if isinstance(query_terms, str) else list(query_terms)
    if not terms:
        raise ValueError("bm25_search_indexed needs at least one query term")
    want_buckets = sorted(
        {
            int.from_bytes(__import__("hashlib").md5(t.encode()).digest()[:4], "big")
            % buckets
            for t in terms
        }
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(want_buckets))
        .filter(F.col("term").isin(terms))
    )
    dfreq = (
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("bucket").isin(want_buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    dl = spark.read.parquet(f"{path}/doclen")
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    out = scored.groupBy(id_col).agg(
        F.round(F.sum(F.col("s").cast(_DEC)).cast("double"), 4).alias("bm25")
    )
    return out.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(top_k)


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 64,
) -> DataFrame:
    """Weighted sampling with unbiased subset-sum estimation — priority
    sampling (Duffield, Lund, Thorup 2007): each row gets priority
    ``q = w / u`` with ``u = (hash60(key)+1) / 2^60`` a deterministic
    uniform in (0,1]; the k highest-priority rows are the sample, and
    with ``tau`` the (k+1)-th priority every sampled row's
    Horvitz-Thompson weight estimate is ``max(w, tau)`` — the estimator
    whose subset sums are unbiased with near-optimal variance. Heavy
    rows (w >= tau) are ALWAYS sampled and enter at their exact weight,
    which is what makes this the right downsample for skewed corpora
    (a giant document can't be missed; light rows are represented by
    inflated survivors).

    Division-only arithmetic (w * 2^60 is an exact exponent shift; one
    IEEE division per row), so a SQL oracle reproduces the sample AND
    the estimates bit-for-bit — rand()-based weighted reservoirs can't
    be verified like this. Weights are expected positive: a zero
    weight gets priority 0 (sampled only when nothing outranks it,
    estimate max(0, tau) = tau), and NULL weights yield NULL
    priorities, which sort last under DESC — filter both out upstream
    when they shouldn't participate.

    100 TB shape: priorities are scan-stage expressions; the top-(k+1)
    is TakeOrderedAndProject (every partition forwards at most k+1
    rows, no global-sort shuffle, no hot-task funnel). Returns the k
    sampled rows with ``__priority``, ``__tau``, and ``__w_est``
    columns appended.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pydala2_spark.functions.sketch import hash60

    pri = (
        F.col(weight_col).cast("double") * F.lit(float(1 << 60))
    ) / (hash60(F.col(key_col)) + F.lit(1)).cast("double")
    ranked = df.filter(F.col(key_col).isNotNull()).withColumn(
        "__priority", pri
    )
    # ONE corpus pass: the top-(k+1) (TakeOrderedAndProject) yields both
    # the sample (rows 1..k) and tau (row k+1's priority; 0 when the
    # whole input fits in k — then max(w, 0) = w and the estimate
    # degrades to exact). The windows below see <= k+1 rows.
    topk1 = ranked.orderBy(F.col("__priority").desc(), F.col(key_col)).limit(
        k + 1
    )
    w_all = Window.partitionBy().orderBy(
        F.col("__priority").desc(), F.col(key_col)
    )
    w_unb = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = topk1.withColumn("__rn", F.row_number().over(w_all)).withColumn(
        "__tau",
        F.coalesce(
            F.max(
                F.when(F.col("__rn") == k + 1, F.col("__priority"))
            ).over(w_unb),
            F.lit(0.0),
        ),
    )
    return (
        t.filter(F.col("__rn") <= k)
        .drop("__rn")
        .withColumn(
            "__w_est",
            F.greatest(F.col(weight_col).cast("double"), F.col("__tau")),
        )
    )


def build_trigram_index(
    spark,
    df: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Persisted TRIGRAM index for substring (LIKE '%pat%') search —
    the pg_trgm idea as a partition-pruned parquet layout:
    ``<path>/postings`` holds DISTINCT (doc, 3-gram) rows
    hive-partitioned by a stable gram bucket. Substring predicates
    cannot use an inverted WORD index (they cross token boundaries)
    or parquet min/max stats; trigram postings turn them into an
    index probe: a doc containing the pattern necessarily contains
    every trigram of the pattern, so intersecting the pattern's
    posting lists yields a candidate SUPERSET, and one contains()
    verify over the candidates makes it exact
    (:func:`substring_search_indexed`).

    100 TB shape: the corpus text is read once ever (here); postings
    are |doc| x |distinct grams per doc| rows of (id, 3 chars) —
    bounded by corpus size with a small constant — and every search
    reads only |pattern grams| / ``buckets`` of the partitions."""
    # Per-row dedup in the EXPRESSION layer: each document's distinct
    # trigram set comes out of array_distinct before the explode, so
    # the postings rows are already unique per (doc, gram) when ids
    # are unique — no dedup exchange over raw grams (the old shape
    # paid distinct's full hash exchange on (doc, gram) AND a second
    # full repartition on bucket; this shuffles the already-deduped
    # postings exactly once). Duplicate-id inputs (two rows sharing an
    # id) may leave duplicate (id, gram) rows in the postings; the
    # probe counts DISTINCT grams per id, so the candidate set — and
    # with it the exact verified result — is unchanged either way.
    gram_arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(char_length({text}) - 2, 0)),"
            f" i -> substring({text}, i, 3))"
        )
    )
    grams = df.select(F.col(id_col), F.explode(gram_arr).alias("gram"))
    # ONE exchange, purely for write LAYOUT: hash-partitioning by
    # bucket puts each bucket in exactly one task, so each bucket
    # directory gets ONE file instead of one per (task x bucket) — the
    # small-files trap that makes both the write and every later
    # pruned probe slow. No aggregate rides the exchange: the r14
    # shape ran a complete dropDuplicates([bucket, id, gram]) hash
    # aggregate INSIDE the bucket-capped post-shuffle tasks (the
    # HashPartitioning(bucket) subset rule suppressed the map-side
    # partial), capping the dedup's parallelism at the live bucket
    # count — measurably slower at 32 cores in both driver runs (r14
    # verdict item 2). The rows are already unique per (id, gram), so
    # the aggregate bought nothing; post-shuffle tasks now only
    # serialize rows to parquet.
    (
        grams.withColumn("bucket", _term_bucket(F.col("gram"), buckets))
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )


def substring_search_indexed(
    spark,
    path: str,
    corpus: DataFrame,
    pattern: str,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Exact substring search THROUGH the trigram index: intersect the
    pattern's posting lists (only those gram-bucket partitions are
    read — directory-pruned at plan time), then verify candidates
    with one contains() against the corpus keyed by id. Returns the
    corpus rows whose ``text`` contains ``pattern`` — identical to a
    full-scan filter, which is the oracle.

    Patterns shorter than 3 characters have no trigram and fall back
    to the full scan loudly (documented, not silent).

    100 TB shape: reads |pattern grams| / buckets of the postings +
    an id-keyed semi-join; the corpus text is touched only for the
    candidate rows (id join), never scanned."""
    import hashlib

    if len(pattern) < 3:
        return corpus.filter(F.col(text).contains(pattern))
    grams = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    want = sorted(
        {
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets
            for g in grams
        }
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(want))
        .filter(F.col("gram").isin(grams))
    )
    cand = (
        postings.groupBy(id_col)
        # DISTINCT grams per id: identical to count(1) when ids are
        # unique (array_distinct makes (id, gram) rows unique at
        # build), and exact for duplicate-id inputs too now that the
        # build no longer dedups across rows — runs over the pruned
        # posting lists only (|pattern grams| / buckets of the index)
        .agg(F.countDistinct("gram").alias("__hits"))
        .filter(F.col("__hits") == len(grams))
        .select(id_col)
    )
    return corpus.join(cand, id_col, "left_semi").filter(
        F.col(text).contains(pattern)
    )


# -- BPE tokenizer training (Sennrich et al. 2016) ---------------------

# Symbol sequences travel as ONE delimited string: every symbol is
# wrapped \x01sym\x02, so a merge of (A, B) is literally
# replace(s, '\x01A\x02\x01B\x02', '\x01AB\x02') — and both Spark's
# and DuckDB's replace() scan left-to-right over non-overlapping
# occurrences, which IS greedy BPE merge application. One shared
# representation, one string primitive, bit-identical engines.
_BPE_L = "\x01"
_BPE_R = "\x02"


def _bpe_word_table(df: DataFrame, text: str, max_word_len: int) -> DataFrame:
    w = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(
            (F.char_length("word") >= 1)
            & (F.char_length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))"
    )
    return w.select(
        "word",
        "freq",
        F.concat(
            F.lit(_BPE_L),
            F.array_join(chars, _BPE_R + _BPE_L),
            F.lit(_BPE_R),
        ).alias("s"),
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    max_word_len: int = 64,
    checkpoint_every: int = 8,
    driver_word_budget: int = 200_000,
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table from the corpus — the tokenizer-training
    step of the pipeline (Sennrich, Haddow & Birch 2016, "Neural
    Machine Translation of Rare Words with Subword Units"). Returns
    ``[(left, right, pair_count), ...]`` in merge order.

    Algorithm, faithfully: words are whitespace tokens; each starts as
    its character sequence; every round counts ADJACENT symbol pairs
    over the word-frequency table (overlapping occurrences count, as
    in the reference implementation's ``get_stats``), picks the most
    frequent pair (ties broken deterministically: count DESC, then
    lexicographic left, right — so the same corpus always yields the
    same tokenizer), and merges it greedily left-to-right in every
    word. Words longer than ``max_word_len`` chars are excluded from
    training (the pre-tokenizer cap; megatoken junk would dominate
    symbol work while representing nothing worth a vocab slot).

    Raises ``ValueError`` if the vocabulary runs out of pairs before
    ``n_merges`` rounds — loud, instead of silently returning a
    shorter table than the caller asked to train.

    Reference analogue: none (the reference has no text surface).

    100 TB shape: the corpus is read ONCE (explode + map-side-combined
    word count); every merge round then runs on the DISTINCT-word
    table — Zipf-bounded, corpus-size-insensitive — as one pair-count
    aggregate (map-side combined) plus one TakeOrderedAndProject
    argmax (a single row to the driver per round) and one scan-stage
    replace(). Lineage is truncated every ``checkpoint_every`` rounds
    (the kcore batching pattern); state between rounds is the word
    table, never the corpus. When the vocabulary fits
    ``driver_word_budget`` rows, the merge loop finishes driver-side
    over the Arrow-fetched table instead of paying per-round job
    latency on a tiny frame — the kcore/union-find budget pattern;
    both paths run the identical argmax and greedy merge, so results
    are equal (pinned by pytest).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    w, n_words = materialize_counted(
        _bpe_word_table(df, text, max_word_len), "learn_bpe_merges: word table"
    )
    if driver_word_budget and n_words <= driver_word_budget:
        return _bpe_driver_finish(w, n_merges)
    merges: list[tuple[str, str, int]] = []
    sep = _BPE_R + _BPE_L
    for r in range(n_merges):
        arr = F.split(
            F.expr("substring(s, 2, char_length(s) - 2)"), sep
        )
        # the size guard matters: Spark's sequence(1, 0) is DESCENDING
        # [1, 0], so an unguarded transform would probe index 0 on
        # fully-merged single-symbol words
        pairs = F.expr(
            "if(size(__arr) < 2, "
            "cast(array() as array<struct<x: string, y: string>>), "
            "transform(sequence(1, size(__arr) - 1), "
            "i -> struct(element_at(__arr, i) AS x, "
            "element_at(__arr, i + 1) AS y)))"
        )
        pc = (
            w.select("freq", arr.alias("__arr"))
            .select("freq", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pc.orderBy(F.desc("cnt"), "x", "y").limit(1).collect()
        if not best:
            raise ValueError(
                f"vocabulary exhausted after {r} merges; "
                f"asked for {n_merges}"
            )
        a, b, c = best[0]["x"], best[0]["y"], int(best[0]["cnt"])
        merges.append((a, b, c))
        # F.lit, not an F.expr literal: symbols may contain quotes or
        # backslashes, which the SQL parser would reinterpret
        w = w.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(_BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R),
                F.lit(_BPE_L + a + b + _BPE_R),
            ),
        )
        if (r + 1) % checkpoint_every == 0 and r + 1 < n_merges:
            w = materialize(w, "learn_bpe_merges: merged words")
    return merges


def _bpe_driver_finish(
    w: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """Merge loop on the driver for budget-sized vocabularies: the
    identical pair-count / argmax / greedy-merge per round, over
    symbol lists instead of delimited strings — equal output by
    construction (pinned against the distributed path by pytest)."""
    from collections import Counter

    sep = _BPE_R + _BPE_L
    try:
        pdf = w.select("freq", "s").toPandas()
        items = list(
            zip(
                (int(x) for x in pdf["freq"].to_numpy()),
                (s[1:-1].split(sep) for s in pdf["s"]),
            )
        )
    except Exception:  # Arrow refused: fall back to Rows
        items = [
            (int(r["freq"]), r["s"][1:-1].split(sep)) for r in w.collect()
        ]
    items = [(f, list(syms)) for f, syms in items]
    merges: list[tuple[str, str, int]] = []
    for r in range(n_merges):
        pc: Counter = Counter()
        for f, syms in items:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            raise ValueError(
                f"vocabulary exhausted after {r} merges; "
                f"asked for {n_merges}"
            )
        (a, b), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, int(c)))
        for f, syms in items:
            i = 0
            j = 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    syms[j] = a + b
                    i += 2
                else:
                    syms[j] = syms[i]
                    i += 1
                j += 1
            del syms[j:]
    return merges


def _bpe_oracle_parts(
    docs_sql: str, n_merges: int, max_word_len: int
) -> list[str]:
    """Shared CTE chain for the BPE oracles: word table, n_merges
    unrolled rounds (a{r}/p{r}/m{r}), and every intermediate w{r}
    including the final post-merge w{n_merges}."""
    L, R = "chr(1)", "chr(2)"
    parts = [
        f"src AS ({docs_sql})",
        "wt AS (SELECT w AS word, count(*) AS freq FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM src) "
        f"WHERE length(w) BETWEEN 1 AND {max_word_len} GROUP BY w)",
        f"w0 AS (SELECT word, freq, {L} || array_to_string("
        "list_transform(generate_series(1, length(word)), i -> word[i]), "
        f"{R} || {L}) || {R} AS s FROM wt)",
    ]
    for r in range(n_merges):
        parts.append(
            f"a{r} AS (SELECT freq, string_split("
            f"s[2:length(s) - 1], {R} || {L}) AS arr FROM w{r})"
        )
        parts.append(
            f"p{r} AS (SELECT arr[i] AS x, arr[i + 1] AS y, "
            f"sum(freq) AS cnt FROM (SELECT freq, arr, "
            f"unnest(generate_series(1, len(arr) - 1)) AS i FROM a{r}) "
            f"GROUP BY arr[i], arr[i + 1])"
        )
        parts.append(
            f"m{r} AS (SELECT x, y, cnt FROM p{r} "
            f"ORDER BY cnt DESC, x, y LIMIT 1)"
        )
        parts.append(
            f"w{r + 1} AS (SELECT w.word, w.freq, replace(w.s, "
            f"{L} || m.x || {R} || {L} || m.y || {R}, "
            f"{L} || m.x || m.y || {R}) AS s "
            f"FROM w{r} w CROSS JOIN m{r} m)"
        )
    return parts


def bpe_merges_oracle_sql(
    docs_sql: str,
    n_merges: int,
    max_word_len: int = 64,
) -> str:
    """DuckDB SQL replaying :func:`learn_bpe_merges` exactly: the merge
    loop unrolls into chained CTEs — same word table, same delimited-
    string representation, same replace()-based greedy merge, same
    (count DESC, left, right) argmax — so all ``n_merges`` output rows
    land bit-for-bit. ``docs_sql`` must yield a column ``text``."""
    parts = _bpe_oracle_parts(docs_sql, n_merges, max_word_len)
    sel = "\n    UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, x AS left_sym, y AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


def bpe_encode_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text: str = "text",
    group_cols: tuple[str, ...] = ("source",),
    checkpoint_every: int = 64,
) -> DataFrame:
    """Encode the corpus under a learned BPE merge table and report
    per-group compression: ``(group_cols..., n_words, n_chars,
    n_subtokens, chars_per_token)``. The other half of the tokenizer
    loop — :func:`learn_bpe_merges` trains, this measures what the
    vocabulary buys on real data (the chars-per-token ratio that sets
    context-window economics).

    Merges apply IN ORDER to the DISTINCT-word vocabulary only — the
    corpus is touched twice total (once to collect distinct words,
    once to join each word occurrence to its encoded length), never
    per merge. Words of any length encode; greedy left-to-right
    application is the same single ``replace()`` per merge as
    training. ``checkpoint_every`` truncates the replace-chain lineage
    for large merge tables.

    Reference analogue: none (the reference has no text surface).

    100 TB shape: the replace chain runs on the Zipf-bounded distinct
    vocabulary; the corpus-side join keys on the word string (the
    vocab side is AQE-broadcastable for real vocabularies); counts
    are map-side-combined sums. No Python, no windows.
    """
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    sep = _BPE_R + _BPE_L
    chars = F.expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))"
    )
    vocab = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(F.char_length("word") >= 1)
        .distinct()
        .select(
            "word",
            F.concat(
                F.lit(_BPE_L),
                F.array_join(chars, sep),
                F.lit(_BPE_R),
            ).alias("s"),
        )
    )
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        vocab = vocab.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(_BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R),
                F.lit(_BPE_L + a + b + _BPE_R),
            ),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < len(merges):
            vocab = materialize(vocab)
    enc = vocab.select(
        "word",
        F.size(
            F.split(F.expr("substring(s, 2, char_length(s) - 2)"), sep)
        ).alias("__n_sub"),
    )
    docw = df.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.split(F.col(text), " ")).alias("word"),
    ).filter(F.char_length("word") >= 1)
    return (
        docw.join(enc, "word")
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.char_length("word")).alias("n_chars"),
            F.sum("__n_sub").alias("n_subtokens"),
        )
        .select(
            *group_cols,
            "n_words",
            "n_chars",
            "n_subtokens",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_subtokens"), 4
            ).alias("chars_per_token"),
        )
    )


def bpe_encode_oracle_sql(
    docs_sql: str,
    n_merges: int,
    max_word_len: int = 64,
    group_cols: tuple[str, ...] = ("source",),
) -> str:
    """DuckDB SQL reproducing :func:`learn_bpe_merges` (capped word
    table, producing m0..m{n-1}) followed by
    :func:`bpe_encode_token_counts` (uncapped vocabulary, merges
    applied in order) — the full train-then-measure loop, bit-exact.
    ``docs_sql`` must yield ``text`` plus ``group_cols``."""
    L, R = "chr(1)", "chr(2)"
    with_chain = "WITH " + ",\n    ".join(
        _bpe_oracle_parts(docs_sql, n_merges, max_word_len)
    )
    gc = ", ".join(group_cols)
    enc_parts = [
        f"ew0 AS (SELECT word, {L} || array_to_string("
        "list_transform(generate_series(1, length(word)), i -> word[i]), "
        f"{R} || {L}) || {R} AS s FROM "
        "(SELECT DISTINCT w AS word FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM src) "
        "WHERE length(w) >= 1))",
    ]
    for r in range(n_merges):
        enc_parts.append(
            f"ew{r + 1} AS (SELECT e.word, replace(e.s, "
            f"{L} || m.x || {R} || {L} || m.y || {R}, "
            f"{L} || m.x || m.y || {R}) AS s "
            f"FROM ew{r} e CROSS JOIN m{r} m)"
        )
    enc_parts.append(
        f"enc AS (SELECT word, len(string_split(s[2:length(s) - 1], "
        f"{R} || {L})) AS n_sub FROM ew{n_merges})"
    )
    enc_parts.append(
        f"docw AS (SELECT {gc}, unnest(string_split(text, ' ')) AS word "
        "FROM src)"
    )
    return (
        with_chain
        + ",\n    "
        + ",\n    ".join(enc_parts)
        + f"""
    SELECT {gc}, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
           CAST(sum(e.n_sub) AS BIGINT) AS n_subtokens,
           round(CAST(sum(length(d.word)) AS DOUBLE)
                 / sum(e.n_sub), 4) AS chars_per_token
    FROM docw d JOIN enc e ON d.word = e.word
    WHERE length(d.word) >= 1
    GROUP BY {gc}"""
    )


def collocation_llr(
    df: DataFrame,
    text: str = "text",
    k: int = 25,
    ndigits: int = 4,
) -> DataFrame:
    """Top-``k`` bigram collocations by Dunning's log-likelihood ratio
    (Dunning 1993) — the statistically-sound collocation test that,
    unlike PMI, does not explode on rare pairs: LLR compares the
    observed 2x2 contingency (bigram vs its parts) against
    independence, weighting by evidence mass, so "of the" and true
    multiword terms rank by strength of association at their actual
    frequency. The phrase-mining primitive (tokenizer vocab seeding,
    keyphrase dictionaries, stopword discovery).

    Output: ``(tok_a, tok_b, k11, llr)`` where ``k11`` is the bigram
    count; ordered llr DESC with a (tok_a, tok_b) tiebreak.

    Determinism: the contingency cells are integer-exact; LLR is one
    fixed-shape double expression of those integers (0*ln(0) handled
    by explicit CASE), rounded — no accumulation hazard. Ranking uses
    the ROUNDED value plus the text tiebreak so near-equal doubles
    cannot flip the top-k across engines.

    100 TB shape: one corpus explode to adjacent pairs, then every
    stage runs on the Zipf-small distinct-bigram frame (materialized
    once); the unigram margins are aggregates OF that frame, joined
    back without broadcast hints (AQE decides). Top-k is one
    TakeOrderedAndProject.
    """

    toks = df.select(F.split(F.col(text), " ").alias("__t")).filter(
        F.size("__t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), "
                "i -> struct(element_at(__t, i) AS a, "
                "element_at(__t, i + 1) AS b))"
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("tok_a"), F.col("bg.b").alias("tok_b"))
    bi = materialize(
        pairs.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("k11"))
    )
    left = bi.groupBy("tok_a").agg(F.sum("k11").alias("ca"))
    right = bi.groupBy("tok_b").agg(F.sum("k11").alias("cb"))
    tot = bi.agg(F.sum("k11").cast("long").alias("n"))
    j = bi.join(left, "tok_a").join(right, "tok_b").crossJoin(F.broadcast(tot))

    def _term(kc, rc, cc):
        # k * ln(k*N / (R*C)), 0 when k = 0
        return F.when(
            kc > 0,
            kc.cast("double")
            * F.log(
                kc.cast("double")
                * F.col("n").cast("double")
                / (rc.cast("double") * cc.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    k11 = F.col("k11")
    k12 = F.col("ca") - k11
    k21 = F.col("cb") - k11
    k22 = F.col("n") - F.col("ca") - F.col("cb") + k11
    r1, r2 = F.col("ca"), F.col("n") - F.col("ca")
    c1, c2 = F.col("cb"), F.col("n") - F.col("cb")
    llr = F.lit(2.0) * (
        _term(k11, r1, c1)
        + _term(k12, r1, c2)
        + _term(k21, r2, c1)
        + _term(k22, r2, c2)
    )
    return (
        j.select(
            "tok_a",
            "tok_b",
            F.col("k11").cast("long").alias("k11"),
            F.round(llr, ndigits).alias("llr"),
        )
        .orderBy(F.col("llr").desc(), "tok_a", "tok_b")
        .limit(k)
    )


def collocation_llr_oracle_sql(
    table_sql: str, text: str = "text", k: int = 25, ndigits: int = 4
) -> str:
    """DuckDB oracle for :func:`collocation_llr` — identical cells and
    the identical fixed-shape LLR expression."""

    def term(kc, rc, cc):
        return (
            f"CASE WHEN {kc} > 0 THEN CAST({kc} AS DOUBLE)"
            f" * ln(CAST({kc} AS DOUBLE) * CAST(n AS DOUBLE)"
            f" / (CAST({rc} AS DOUBLE) * CAST({cc} AS DOUBLE)))"
            f" ELSE 0.0 END"
        )

    terms = " + ".join(
        [
            term("k11", "ca", "cb"),
            term("(ca - k11)", "ca", "(n - cb)"),
            term("(cb - k11)", "(n - ca)", "cb"),
            term("(n - ca - cb + k11)", "(n - ca)", "(n - cb)"),
        ]
    )
    return f"""
    WITH t AS (
      SELECT string_split({text}, ' ') AS tk FROM ({table_sql})
      WHERE len(string_split({text}, ' ')) >= 2
    ), bg AS (
      SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b
      FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
    ), bi AS (
      SELECT tok_a, tok_b, count(*) AS k11 FROM bg GROUP BY 1, 2
    ), l AS (SELECT tok_a, sum(k11) AS ca FROM bi GROUP BY 1),
    r AS (SELECT tok_b, sum(k11) AS cb FROM bi GROUP BY 1),
    tot AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM bi)
    SELECT tok_a, tok_b, CAST(k11 AS BIGINT) AS k11,
           round(2.0 * ({terms}), {ndigits}) AS llr
    FROM bi JOIN l USING (tok_a) JOIN r USING (tok_b), tot
    ORDER BY llr DESC, tok_a, tok_b LIMIT {k}
    """


def js_divergence_by_group(
    df: DataFrame,
    group_col: str = "source",
    text: str = "text",
    ndigits: int = 4,
) -> DataFrame:
    """Jensen-Shannon divergence between each group's unigram
    distribution and the WHOLE corpus's — the domain-shift measure
    behind mixture design: a source whose JS vs the corpus is high is
    contributing something distributionally new (upweight for
    diversity), one near zero is redundant. Symmetric and bounded
    [0, ln 2], unlike KL (which is infinite on any token the corpus
    has that the source lacks — i.e. always, so raw KL is useless
    here; JS is the standard fix).

    Output: ``(group, n_tokens, js_nats, js_norm)`` with ``js_norm``
    = js / ln 2 in [0, 1].

    Determinism: all counts integer-exact; the vocabulary-sum uses the
    algebraic identity
    ``JS = 0.5 * Σ_{t in group} [p ln(p/m) + q ln(q/m) - q ln 2]
    + 0.5 ln 2`` (tokens absent from the group contribute exactly
    ``0.5 q ln 2``, folded into the constant), so only group-present
    tokens are summed; each term rounds to 12 decimals and accumulates
    as DECIMAL(38,12) (the pagerank discipline).

    100 TB shape: one corpus explode to (group, token) counts —
    Zipf-small, materialized once; the global token table and group
    totals are aggregates OF that frame; the scoring join is keyed on
    token with no broadcast hints (web-scale vocabularies can be
    large; AQE broadcasts when actually small). The constant attaches
    as one-row broadcasts. No second corpus pass, no windows.
    """

    gt = materialize(
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.col(text), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    glob = gt.groupBy("tok").agg(F.sum("c").alias("cg"))
    gtot = gt.groupBy("grp").agg(F.sum("c").cast("long").alias("ns"))
    tot = glob.agg(F.sum("cg").cast("long").alias("nn"))
    j = (
        gt.join(glob, "tok")
        .join(gtot, "grp")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("c").cast("double") / F.col("ns").cast("double")
    q = F.col("cg").cast("double") / F.col("nn").cast("double")
    m = (p + q) / F.lit(2.0)
    ln2 = F.log(F.lit(2.0))
    term = F.round(
        p * F.log(p / m) + q * F.log(q / m) - q * ln2, 12
    ).cast("decimal(38,12)")
    return j.groupBy("grp", "ns").agg(
        F.sum(term).cast("double").alias("__s")
    ).select(
        F.col("grp").alias(group_col),
        F.col("ns").alias("n_tokens"),
        F.round(
            F.lit(0.5) * F.col("__s") + F.lit(0.5) * ln2, ndigits
        ).alias("js_nats"),
        F.round(
            (F.lit(0.5) * F.col("__s") + F.lit(0.5) * ln2) / ln2, ndigits
        ).alias("js_norm"),
    )


def js_divergence_oracle_sql(
    table_sql: str,
    group_col: str = "source",
    text: str = "text",
    ndigits: int = 4,
) -> str:
    """DuckDB oracle for :func:`js_divergence_by_group` — identical
    identity and rounded-term decimal accumulation."""
    return f"""
    WITH gt AS (
      SELECT {group_col} AS grp, tok, count(*) AS c FROM (
        SELECT {group_col}, unnest(string_split({text}, ' ')) AS tok
        FROM ({table_sql})
      ) WHERE tok <> '' GROUP BY 1, 2
    ), gl AS (SELECT tok, sum(c) AS cg FROM gt GROUP BY 1),
    gtot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ns FROM gt GROUP BY 1),
    tot AS (SELECT CAST(sum(cg) AS BIGINT) AS nn FROM gl),
    terms AS (
      SELECT grp, ns,
             CAST(round(
               (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                 * ln((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                      / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
                          + CAST(cg AS DOUBLE) / CAST(nn AS DOUBLE)) / 2.0))
               + (CAST(cg AS DOUBLE) / CAST(nn AS DOUBLE))
                 * ln((CAST(cg AS DOUBLE) / CAST(nn AS DOUBLE))
                      / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
                          + CAST(cg AS DOUBLE) / CAST(nn AS DOUBLE)) / 2.0))
               - (CAST(cg AS DOUBLE) / CAST(nn AS DOUBLE)) * ln(2.0),
               12) AS DECIMAL(38,12)) AS term
      FROM gt JOIN gl USING (tok) JOIN gtot USING (grp), tot
    )
    SELECT grp AS {group_col}, ns AS n_tokens,
           round(0.5 * CAST(sum(term) AS DOUBLE) + 0.5 * ln(2.0),
                 {ndigits}) AS js_nats,
           round((0.5 * CAST(sum(term) AS DOUBLE) + 0.5 * ln(2.0))
                 / ln(2.0), {ndigits}) AS js_norm
    FROM terms GROUP BY grp, ns
    """


def nb_domain_classifier(
    df: DataFrame,
    class_col: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes domain classifier, trained and
    evaluated inside the engine — the CCNet/GPT-3-style quality- or
    domain-filter primitive (train a cheap classifier on labeled
    text, score the corpus with it). Trains add-1-smoothed per-class
    unigram models on even ``id_col`` docs, predicts the odd ones,
    and returns the confusion matrix ``(true_source,
    predicted_source, n_docs)``.

    Determinism: every model quantity is an integer count; the only
    transcendental is ln, and each term rounds to 12 decimals then
    accumulates as DECIMAL(38,12) (the pagerank discipline). The
    vocab-absent/OOV mass uses the algebraic identity
    ``score_c = ln(prior) - n_doc * ln(T_c + V)
    + Σ_{tok: c_tc>0} cnt * ln(c_tc + 1)``
    — tokens the class never saw contribute ln(1) = 0 to the sum, so
    the scoring join is INNER on class-present tokens only (the
    js_divergence folding trick). Argmax breaks score ties class-ASC
    via a struct-min on (-score, class).

    100 TB shape: one corpus explode; the model is the Zipf-small
    (token, class) count frame, materialized once; scoring joins
    test tokens to it keyed on token (fanout <= |classes|); the
    |classes|-row prior frame attaches broadcast. No windows over
    corpus-sized data, no driver collect."""

    dec = "decimal(38,12)"
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.col(class_col).alias("cls"),
        F.explode(F.split(F.col(text), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    model = materialize(
        toks.filter(F.col("doc") % 2 == 0)
        .groupBy("tok", "cls")
        .agg(F.count(F.lit(1)).alias("ctc"))
    )
    tc = model.groupBy("cls").agg(F.sum("ctc").cast("long").alias("t_c"))
    vocab = model.select("tok").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    train_docs = (
        df.filter(F.col(id_col) % 2 == 0)
        .groupBy(F.col(class_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    dtot = train_docs.agg(F.sum("dc").cast("long").alias("dt"))
    classes = (
        tc.join(train_docs, "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dtot))
        .select(
            "cls",
            F.round(
                F.log(F.col("dc").cast("double") / F.col("dt").cast("double")),
                12,
            )
            .cast(dec)
            .alias("lp_prior"),
            F.log((F.col("t_c") + F.col("v")).cast("double")).alias("ln_den"),
        )
    )
    tcnt = materialize(
        toks.filter(F.col("doc") % 2 == 1)
        .groupBy("doc", F.col("cls").alias("true_cls"), "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ndoc = tcnt.groupBy("doc", "true_cls").agg(
        F.sum("cnt").cast("long").alias("n_doc")
    )
    j = (
        tcnt.join(
            model.select("tok", F.col("cls").alias("__mcls"), "ctc"), "tok"
        )
        .select(
            "doc",
            F.col("__mcls").alias("cls"),
            F.round(
                F.col("cnt").cast("double")
                * F.log(F.col("ctc").cast("double") + 1.0),
                12,
            )
            .cast(dec)
            .alias("term"),
        )
        .groupBy("doc", "cls")
        .agg(F.sum("term").alias("s1"))
    )
    scored = (
        ndoc.crossJoin(F.broadcast(classes))
        .join(j, ["doc", "cls"], "left")
        .select(
            "doc",
            "true_cls",
            "cls",
            (
                F.col("lp_prior")
                + F.round(
                    -F.col("n_doc").cast("double") * F.col("ln_den"), 12
                ).cast(dec)
                + F.coalesce(F.col("s1"), F.lit(0).cast(dec))
            ).alias("score"),
        )
    )
    pred = scored.groupBy("doc", "true_cls").agg(
        F.min(
            F.struct((-F.col("score")).alias("ns"), F.col("cls").alias("c"))
        ).alias("m")
    )
    return pred.groupBy(
        F.col("true_cls").alias("true_source"),
        F.col("m.c").alias("predicted_source"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def nb_classifier_oracle_sql(
    table_sql: str,
    class_col: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`nb_domain_classifier` — identical
    folding identity and rounded-term decimal accumulation."""
    return f"""
    WITH toks AS (
      SELECT doc, cls, tok FROM (
        SELECT {id_col} AS doc, {class_col} AS cls,
               unnest(string_split({text}, ' ')) AS tok
        FROM ({table_sql})
      ) WHERE tok <> ''
    ), model AS (
      SELECT tok, cls, count(*) AS ctc FROM toks
      WHERE doc % 2 = 0 GROUP BY 1, 2
    ), tc AS (
      SELECT cls, CAST(sum(ctc) AS BIGINT) AS t_c FROM model GROUP BY 1
    ), vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM model
    ), tdocs AS (
      SELECT {class_col} AS cls, count(*) AS dc FROM ({table_sql})
      WHERE {id_col} % 2 = 0 GROUP BY 1
    ), dtot AS (SELECT CAST(sum(dc) AS BIGINT) AS dt FROM tdocs),
    classes AS (
      SELECT tc.cls,
             CAST(round(ln(CAST(dc AS DOUBLE) / CAST(dt AS DOUBLE)), 12)
                  AS DECIMAL(38,12)) AS lp_prior,
             ln(CAST(t_c + v AS DOUBLE)) AS ln_den
      FROM tc JOIN tdocs USING (cls), vocab, dtot
    ), tcnt AS (
      SELECT doc, cls AS true_cls, tok, count(*) AS cnt FROM toks
      WHERE doc % 2 = 1 GROUP BY 1, 2, 3
    ), ndoc AS (
      SELECT doc, true_cls, CAST(sum(cnt) AS BIGINT) AS n_doc
      FROM tcnt GROUP BY 1, 2
    ), j AS (
      SELECT t.doc, m.cls,
             sum(CAST(round(CAST(t.cnt AS DOUBLE)
                            * ln(CAST(m.ctc AS DOUBLE) + 1.0), 12)
                      AS DECIMAL(38,12))) AS s1
      FROM tcnt t JOIN model m USING (tok) GROUP BY 1, 2
    ), scored AS (
      SELECT n.doc, n.true_cls, c.cls,
             c.lp_prior
             + CAST(round(-CAST(n.n_doc AS DOUBLE) * c.ln_den, 12)
                    AS DECIMAL(38,12))
             + coalesce(j.s1, CAST(0 AS DECIMAL(38,12))) AS score
      FROM ndoc n CROSS JOIN classes c
      LEFT JOIN j ON j.doc = n.doc AND j.cls = c.cls
    ), pred AS (
      SELECT doc, true_cls, cls AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY doc
                    ORDER BY score DESC, cls ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT true_cls AS true_source, predicted AS predicted_source,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """


def token_cooccurrence_edges(
    df: DataFrame, text: str = "text", min_count: int = 3
) -> DataFrame:
    """Adjacent-token co-occurrence graph over the corpus — the
    substrate for TextRank keyword extraction (Mihalcea & Tarau
    2004): one undirected edge (least, greatest) per adjacent pair of
    lowercase alphabetic tokens (>= 3 chars), weighted by corpus-wide
    adjacency count and pruned below ``min_count``. Scan-stage
    zip_with pairing (no window), one map-side-combined count agg;
    the result is Zipf-small regardless of corpus size."""
    tk = F.split(F.lower(F.col(text)), " ")
    pairs = F.expr(
        "filter(zip_with(slice(__tk, 1, size(__tk) - 1), "
        "slice(__tk, 2, size(__tk) - 1), (a, b) -> struct(a, b)), "
        "p -> p.a rlike '^[a-z]{3,}$' AND p.b rlike '^[a-z]{3,}$' "
        "AND p.a <> p.b)"
    )
    return (
        df.select(tk.alias("__tk"))
        .select(F.explode(pairs).alias("p"))
        .select(
            F.least("p.a", "p.b").alias("src"),
            F.greatest("p.a", "p.b").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_count)
    )


def textrank_edges_oracle_sql(
    table_sql: str = "documents", text: str = "text", min_count: int = 3
) -> str:
    """DuckDB edge CTE matching :func:`token_cooccurrence_edges`,
    symmetrized for the directed pagerank oracle (TextRank runs on
    the undirected graph = both directions of every edge)."""
    return f"""SELECT src, dst, w FROM (
      WITH u AS (
        SELECT least(a, b) AS s, greatest(a, b) AS d, count(*) AS w
        FROM (
          SELECT tk[g.i] AS a, tk[g.i + 1] AS b
          FROM (SELECT string_split(lower({text}), ' ') AS tk
                FROM {table_sql}) t,
               unnest(generate_series(1, len(tk) - 1)) AS g(i)
        )
        WHERE regexp_matches(a, '^[a-z]{{3,}}$')
          AND regexp_matches(b, '^[a-z]{{3,}}$')
          AND a <> b
        GROUP BY 1, 2 HAVING count(*) >= {min_count}
      )
      SELECT s AS src, d AS dst, w FROM u
      UNION ALL
      SELECT d AS src, s AS dst, w FROM u
    )"""


# -- out-of-vocabulary rate ----------------------------------------------


def oov_rate(
    docs: DataFrame,
    ref_col,
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Out-of-vocabulary rate of one corpus half against the other's
    vocabulary — the tokenizer-coverage / domain-shift eval a training
    pipeline runs before committing a vocab (a rising token-OOV rate
    on fresh data means the tokenizer was fit on a stale mix;
    type-OOV rising faster than token-OOV means a long tail of new
    jargon, not a frequency shift).

    ``ref_col`` is a boolean Column: true rows define the reference
    vocabulary, false rows are evaluated against it. Whitespace
    tokenization (the corpus token convention); empty tokens dropped.

    One row out: ``(n_tokens, n_oov_tokens, token_oov_rate, n_types,
    n_oov_types, type_oov_rate)``.

    100 TB shape: one explode pass; the reference vocabulary is
    Zipf-bounded (distinct tokens grow ~sqrt of corpus — Heaps' law),
    so the membership join broadcasts; the type-level stats
    re-aggregate the evaluated side's distinct table, not the corpus.
    """
    toks = docs.select(
        ref_col.alias("__ref"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.filter(F.col("__ref"))
        .select("tok")
        .distinct()
        .withColumn("__in", F.lit(1))
    )
    b = toks.filter(~F.col("__ref")).select("tok")
    marked = b.join(F.broadcast(vocab), "tok", "left")
    tok_stats = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count(F.when(F.col("__in").isNull(), F.lit(1)))
        .cast("long")
        .alias("n_oov_tokens"),
    )
    type_stats = (
        marked.select("tok", "__in")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.count(F.when(F.col("__in").isNull(), F.lit(1)))
            .cast("long")
            .alias("n_oov_types"),
        )
    )
    return tok_stats.crossJoin(F.broadcast(type_stats)).select(
        "n_tokens",
        "n_oov_tokens",
        F.round(
            F.col("n_oov_tokens").cast("double")
            / F.col("n_tokens").cast("double"),
            ndigits,
        ).alias("token_oov_rate"),
        "n_types",
        "n_oov_types",
        F.round(
            F.col("n_oov_types").cast("double")
            / F.col("n_types").cast("double"),
            ndigits,
        ).alias("type_oov_rate"),
    )


def oov_rate_oracle_sql(ref_sql: str, ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`oov_rate` over the documents table;
    ``ref_sql`` is the boolean reference-half predicate."""
    return f"""
    WITH toks AS (
      SELECT ({ref_sql}) AS ref, u.t AS tok
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE u.t <> ''
    ), vocab AS (SELECT DISTINCT tok FROM toks WHERE ref),
    b AS (SELECT tok FROM toks WHERE NOT ref),
    marked AS (
      SELECT b.tok, v.tok IS NOT NULL AS inv
      FROM b LEFT JOIN vocab v USING (tok)
    ), tok_stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(CASE WHEN NOT inv THEN 1 END) AS BIGINT)
               AS n_oov_tokens
      FROM marked
    ), type_stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(count(CASE WHEN NOT inv THEN 1 END) AS BIGINT)
               AS n_oov_types
      FROM (SELECT DISTINCT tok, inv FROM marked)
    )
    SELECT n_tokens, n_oov_tokens,
           round(CAST(n_oov_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE),
                 {ndigits}) AS token_oov_rate,
           n_types, n_oov_types,
           round(CAST(n_oov_types AS DOUBLE) / CAST(n_types AS DOUBLE),
                 {ndigits}) AS type_oov_rate
    FROM tok_stats, type_stats
    """


# -- feature hashing -----------------------------------------------------


def feature_hash_audit(
    docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Hashing-trick collision audit: hash every distinct token into
    ``n_buckets`` (md5-derived — identical in any engine, unlike
    engine-native hash functions) and report per-bucket type/token
    load plus the corpus-level collision rate — the check before
    committing a hashed-feature dimensionality (too small a D silently
    merges features; this measures exactly how much).

    Output: one row per non-empty bucket — ``(bucket, n_types,
    n_tokens, type_share)`` — where n_types counts distinct tokens in
    the bucket (n_types > 1 = colliding) and type_share is the
    bucket's share of all types.

    100 TB shape: one explode pass to token counts (map-side
    combined, Heaps-bounded distinct table), the hash is a scan-stage
    expression on the DISTINCT table, one |buckets| groupBy.
    """
    toks = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    b = toks.select(bucket.alias("bucket"), "c")
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    tot = g.agg(F.sum("n_types").cast("long").alias("__t"))
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_types",
        "n_tokens",
        F.round(
            F.col("n_types").cast("double") / F.col("__t").cast("double"),
            ndigits,
        ).alias("type_share"),
    )


def feature_hash_oracle_sql(n_buckets: int = 64, ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`feature_hash_audit` — identical md5
    bucket derivation (hex prefix -> int -> mod)."""
    return f"""
    WITH toks AS (
      SELECT u.t AS tok, count(*) AS c
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE u.t <> ''
      GROUP BY 1
    ), b AS (
      SELECT CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
               % {n_buckets} AS bucket, c
      FROM toks
    ), g AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_types) AS BIGINT) AS t FROM g)
    SELECT bucket, n_types, n_tokens,
           round(CAST(n_types AS DOUBLE) / CAST(t AS DOUBLE), {ndigits})
             AS type_share
    FROM g, tot
    """


def ngram_novelty(
    reference: DataFrame,
    incoming: DataFrame,
    text: str = "text",
    k: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Cross-corpus n-gram novelty: how much of an INCOMING corpus is
    k-gram-new relative to a REFERENCE corpus — the memorization /
    freshness readout of a training-data refresh (the inverse of
    :func:`contamination_screen`'s question): type novelty says how
    much new phrasing arrives, occurrence novelty says how much of the
    incoming TOKEN MASS is new (a corpus can add many rare new n-grams
    while 95% of its volume is re-crawl).

    One row out: ``(n_ref_types, n_new_types, n_novel_types,
    type_novelty, n_new_occ, n_novel_occ, occ_novelty)``.

    100 TB shape: both sides explode to shingles and reduce map-side
    (reference to its DISTINCT type table, incoming to (shingle,
    occurrence-count)); the novelty check is ONE shuffled hash
    equi-join of the two reduced tables — deliberately NOT a
    broadcast: unlike the benchmark-decontamination case both sides
    are corpus-sized, and the shingle hash keys distribute evenly.
    All counts exact; two guarded double divisions at the end.
    """
    from pydala2_spark.functions.text import raw_shingles

    def occ(df: DataFrame) -> DataFrame:
        return (
            df.select(F.split(F.col(text), " ").alias("__tk"))
            .select(F.explode(raw_shingles(text, k, "__tk")).alias("sh"))
            .filter(F.size(F.split(F.col("sh"), " ")) == k)
        )

    ref_types = occ(reference).distinct().withColumn("__seen", F.lit(1))
    newg = occ(incoming).groupBy("sh").agg(F.count(F.lit(1)).alias("occ"))
    j = newg.join(ref_types, "sh", "left")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_new_types"),
        F.count(F.when(F.col("__seen").isNull(), F.lit(1)))
        .cast("long")
        .alias("n_novel_types"),
        F.sum("occ").cast("long").alias("n_new_occ"),
        F.sum(F.when(F.col("__seen").isNull(), F.col("occ")))
        .cast("long")
        .alias("__novel_occ"),
    )
    nref = ref_types.agg(F.count(F.lit(1)).cast("long").alias("n_ref_types"))
    return (
        s.crossJoin(F.broadcast(nref))
        .select(
            "n_ref_types",
            "n_new_types",
            "n_novel_types",
            F.round(
                F.when(
                    F.col("n_new_types") > 0,
                    F.col("n_novel_types").cast("double")
                    / F.col("n_new_types").cast("double"),
                ),
                ndigits,
            ).alias("type_novelty"),
            "n_new_occ",
            F.coalesce(F.col("__novel_occ"), F.lit(0)).alias("n_novel_occ"),
            F.round(
                F.when(
                    F.col("n_new_occ") > 0,
                    F.coalesce(F.col("__novel_occ"), F.lit(0)).cast("double")
                    / F.col("n_new_occ").cast("double"),
                ),
                ndigits,
            ).alias("occ_novelty"),
        )
    )


def ngram_novelty_oracle_sql(
    ref_sql: str,
    new_sql: str,
    text: str = "text",
    k: int = 5,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`ngram_novelty` — identical sliding
    k-gram construction (short-doc stubs filtered by token count, the
    contamination idiom), occurrence counting, and guarded ratios."""
    probes = ", ".join(f"tk[i+{j}]" for j in range(k))
    gen = (
        f"list_transform(generate_series(1, greatest(len(tk) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {probes}))"
    )
    return f"""
    WITH refs AS (
      SELECT DISTINCT s FROM (
        SELECT string_split({text}, ' ') AS tk FROM ({ref_sql})
      ), unnest({gen}) AS u(s)
      WHERE len(string_split(s, ' ')) = {k}
    ), newg AS (
      SELECT s AS sh, count(*) AS occ FROM (
        SELECT string_split({text}, ' ') AS tk FROM ({new_sql})
      ), unnest({gen}) AS u(s)
      WHERE len(string_split(s, ' ')) = {k}
      GROUP BY s
    ), j AS (
      SELECT newg.sh, newg.occ, refs.s IS NOT NULL AS seen
      FROM newg LEFT JOIN refs ON newg.sh = refs.s
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_new_types,
             CAST(count(CASE WHEN NOT seen THEN 1 END) AS BIGINT)
               AS n_novel_types,
             CAST(sum(occ) AS BIGINT) AS n_new_occ,
             CAST(coalesce(sum(CASE WHEN NOT seen THEN occ END), 0)
                  AS BIGINT) AS n_novel_occ
      FROM j
    ), r AS (SELECT CAST(count(*) AS BIGINT) AS n_ref_types FROM refs)
    SELECT n_ref_types, n_new_types, n_novel_types,
           round(CASE WHEN n_new_types > 0
                 THEN CAST(n_novel_types AS DOUBLE)
                      / CAST(n_new_types AS DOUBLE) END, {ndigits})
             AS type_novelty,
           n_new_occ, n_novel_occ,
           round(CASE WHEN n_new_occ > 0
                 THEN CAST(n_novel_occ AS DOUBLE)
                      / CAST(n_new_occ AS DOUBLE) END, {ndigits})
             AS occ_novelty
    FROM s, r
    """


def idf_drift(
    reference: DataFrame,
    incoming: DataFrame,
    text: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """IDF drift between two corpus snapshots: how much each term's
    inverse document frequency moved — the retrieval-index
    maintenance readout (a BM25/TF-IDF index scores with FROZEN IDFs;
    when the corpus shifts, ranking quality decays silently — this
    number says when to rebuild) that complements
    :func:`ngram_novelty`'s phrase-level view with the term-weight
    view.

    One row out: ``(n_docs_a, n_docs_b, n_shared_terms, n_only_a,
    n_only_b, mean_abs_idf_shift, max_abs_idf_shift)`` — idf =
    ln(N/df) over each side's document-frequency table; shift stats
    over the SHARED vocabulary.

    Determinism: each idf rounds to 12 before the difference, the
    absolute difference rounds to 12 again and accumulates as
    DECIMAL(38,12) (the mutual-info ln discipline).

    100 TB shape: both sides reduce map-side to their Heaps-bounded
    document-frequency tables (explode distinct-tokens-per-doc, one
    groupBy); the drift is ONE shuffled hash equi-join of the two
    vocab tables against one-row broadcast doc counts.
    """

    def dfreq(df: DataFrame, n_alias: str, df_alias: str):
        tbl = (
            df.select(
                F.explode(
                    F.array_distinct(F.split(F.col(text), " "))
                ).alias("t")
            )
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias(df_alias))
        )
        n = df.agg(F.count(F.lit(1)).cast("long").alias(n_alias))
        return tbl, n

    ta, na = dfreq(reference, "n_docs_a", "dfa")
    tb, nb = dfreq(incoming, "n_docs_b", "dfb")
    j = (
        ta.join(tb, "t", "full_outer")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    idf_a = F.round(
        F.log(F.col("n_docs_a").cast("double") / F.col("dfa").cast("double")),
        12,
    )
    idf_b = F.round(
        F.log(F.col("n_docs_b").cast("double") / F.col("dfb").cast("double")),
        12,
    )
    shift = F.round(F.abs(idf_a - idf_b), 12)
    shared = F.col("dfa").isNotNull() & F.col("dfb").isNotNull()
    agg = j.groupBy("n_docs_a", "n_docs_b").agg(
        F.count(F.when(shared, F.lit(1))).cast("long").alias(
            "n_shared_terms"
        ),
        F.count(F.when(F.col("dfb").isNull(), F.lit(1)))
        .cast("long")
        .alias("n_only_a"),
        F.count(F.when(F.col("dfa").isNull(), F.lit(1)))
        .cast("long")
        .alias("n_only_b"),
        F.sum(
            F.when(shared, shift.cast("decimal(38,12)"))
        ).alias("__sum_shift"),
        F.max(F.when(shared, shift)).alias("__max_shift"),
    )
    return agg.select(
        "n_docs_a",
        "n_docs_b",
        "n_shared_terms",
        "n_only_a",
        "n_only_b",
        F.round(
            F.col("__sum_shift").cast("double")
            / F.col("n_shared_terms").cast("double"),
            ndigits,
        ).alias("mean_abs_idf_shift"),
        F.round(F.col("__max_shift"), ndigits).alias("max_abs_idf_shift"),
    )


def idf_drift_oracle_sql(
    ref_sql: str,
    new_sql: str,
    text: str = "text",
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`idf_drift` — identical per-side
    document-frequency tables and the round-12 ln ladder."""
    return f"""
    WITH ra AS ({ref_sql}), rb AS ({new_sql}),
    ta AS (
      SELECT t, count(*) AS dfa FROM (
        SELECT unnest(list_distinct(string_split({text}, ' '))) AS t
        FROM ra
      ) GROUP BY t
    ), tb AS (
      SELECT t, count(*) AS dfb FROM (
        SELECT unnest(list_distinct(string_split({text}, ' '))) AS t
        FROM rb
      ) GROUP BY t
    ), na AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_a FROM ra),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_b FROM rb),
    j AS (
      SELECT ta.dfa, tb.dfb, na.n_docs_a, nb.n_docs_b,
             round(abs(
               round(ln(CAST(na.n_docs_a AS DOUBLE) / CAST(ta.dfa AS DOUBLE)),
                     12)
               - round(ln(CAST(nb.n_docs_b AS DOUBLE)
                          / CAST(tb.dfb AS DOUBLE)), 12)), 12) AS shift
      FROM ta FULL OUTER JOIN tb ON ta.t = tb.t, na, nb
    )
    SELECT n_docs_a, n_docs_b,
           CAST(count(CASE WHEN dfa IS NOT NULL AND dfb IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_shared_terms,
           CAST(count(CASE WHEN dfb IS NULL THEN 1 END) AS BIGINT)
             AS n_only_a,
           CAST(count(CASE WHEN dfa IS NULL THEN 1 END) AS BIGINT)
             AS n_only_b,
           round(CAST(sum(CASE WHEN dfa IS NOT NULL AND dfb IS NOT NULL
                   THEN CAST(shift AS DECIMAL(38,12)) END) AS DOUBLE)
                 / count(CASE WHEN dfa IS NOT NULL AND dfb IS NOT NULL
                              THEN 1 END), {ndigits}) AS mean_abs_idf_shift,
           round(max(CASE WHEN dfa IS NOT NULL AND dfb IS NOT NULL
                          THEN shift END), {ndigits}) AS max_abs_idf_shift
    FROM j GROUP BY n_docs_a, n_docs_b
    """


def lexical_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Per-group lexical diversity audit: Simpson concentration over
    the token-frequency distribution — ``sum c_i*(c_i-1) / (N*(N-1))``,
    the probability two random token OCCURRENCES are the same type —
    plus its reciprocal (effective vocabulary size) and the type-token
    ratio. The corpus-mix readout that catches a source gone
    template-heavy (diversity collapses) before perplexity would: a
    boilerplate-flooded slice concentrates token mass into few types
    while its raw token count looks healthy.

    Output per group: ``(group, n_docs, n_tokens, n_types, simpson,
    effective_types, ttr)``. Simpson is exact integer arithmetic with
    one final double division — bit-identical cross-engine; NULL when
    a group has < 2 tokens.

    Tokenization is the corpus convention (split on single space —
    doc_token_stats' contract).

    100 TB shape: explode to (group, token) then TWO map-side-combined
    groupBys (token counts, then group moments) — the same two-stage
    reduction every frequency op here uses; no windows, no joins."""
    tf = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ndocs = docs.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    mo = tf.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("__s2"),
    )
    n = F.col("n_tokens").cast("double")
    simpson = F.when(
        F.col("n_tokens") > 1,
        F.col("__s2").cast("double") / (n * (n - F.lit(1.0))),
    )
    return (
        mo.join(ndocs, "g")
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "n_tokens",
            "n_types",
            F.round(simpson, ndigits).alias("simpson"),
            F.round(
                F.when(
                    simpson > 0, F.lit(1.0) / simpson
                ),
                ndigits,
            ).alias("effective_types"),
            F.round(
                F.col("n_types").cast("double") / n, ndigits
            ).alias("ttr"),
        )
    )


def lexical_diversity_oracle_sql(
    group_col: str = "source",
    text_col: str = "text",
    table: str = "documents",
    ndigits: int = 6,
) -> str:
    """DuckDB mirror of :func:`lexical_diversity`: identical token
    split, identical exact integer moments and double expressions."""
    simpson = (
        "CASE WHEN n_tokens > 1 THEN CAST(s2 AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))"
        " END"
    )
    return f"""
    WITH tf AS (
      SELECT {group_col} AS g, t.tok, count(*) AS c
      FROM {table},
           LATERAL unnest(string_split({text_col}, ' ')) AS t(tok)
      GROUP BY 1, 2
    ), nd AS (
      SELECT {group_col} AS g, CAST(count(*) AS BIGINT) AS n_docs
      FROM {table} GROUP BY 1
    ), mo AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS s2
      FROM tf GROUP BY g
    )
    SELECT mo.g AS {group_col}, nd.n_docs, mo.n_tokens, mo.n_types,
           round({simpson}, {ndigits}) AS simpson,
           round(CASE WHEN {simpson} > 0 THEN 1.0 / ({simpson}) END,
                 {ndigits}) AS effective_types,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE),
                 {ndigits}) AS ttr
    FROM mo JOIN nd ON mo.g = nd.g
    """
