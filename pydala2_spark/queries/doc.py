"""Document/text-corpus queries: quality, language, fingerprints, retrieval, curation.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _app_scoped_tmp,
    _davg,
    _dsum,
    _oavg,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



@query(
    "doc_token_explode_top",
    """
    SELECT t AS token, count(*) AS n
    FROM documents, unnest(string_split(text, ' ')) AS u(t)
    WHERE len(t) >= 6
    GROUP BY t
    ORDER BY n DESC, token ASC
    LIMIT 30
    """,
)
def doc_token_explode_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode → count: the F5 unnest verb. At 100 TB: map-side partial
    # agg collapses token counts before the shuffle.
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") >= 6)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(30)
    )



@query(
    "doc_heaps_fit",
    """
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    base AS (
      SELECT CAST(floor(CAST(doc_id AS DOUBLE) * 50 / (m + 1)) AS BIGINT)
               AS b,
             doc_id, string_split(text, ' ') AS t
      FROM documents CROSS JOIN mx
    ), mass AS (
      SELECT b, sum(len(t)) AS toks FROM base GROUP BY b
    ), firsts AS (
      SELECT tok, min(doc_id) AS f
      FROM (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM base)
      GROUP BY tok
    ), newv AS (
      SELECT CAST(floor(CAST(f AS DOUBLE) * 50 / (m + 1)) AS BIGINT) AS b,
             count(*) AS nv
      FROM firsts CROSS JOIN mx GROUP BY 1
    ), curve AS (
      SELECT mass.b,
             sum(toks) OVER (ORDER BY mass.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS N,
             sum(coalesce(nv, 0)) OVER (ORDER BY mass.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS V
      FROM mass LEFT JOIN newv USING (b)
    ), xy AS (
      SELECT ln(CAST(N AS DOUBLE)) AS x, ln(CAST(V AS DOUBLE)) AS y
      FROM curve WHERE N > 0 AND V > 0
    ), s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS beta,
           round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 * (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def doc_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heaps'-law vocabulary-growth fit over a 50-bucket cumulative
    # curve — no single-partition pass ever sees the corpus (the
    # running sums and OLS run on 50 rows). Companion diagnostic to
    # doc_zipf_fit. See operators/curate.heaps_fit for the 100 TB
    # notes.
    from pydala2_spark.operators.curate import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"), points=50)



@query(
    "doc_token_pmi",
    """
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents
    ), uni AS (
      SELECT tok, count(*) AS df_u
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY tok
    ), nn AS (SELECT count(*) AS n FROM documents),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS df_ab
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks) a
      JOIN (SELECT doc_id, unnest(t) AS tok FROM toks) b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT tok_a, tok_b, ua.df_u AS df_a, ub.df_u AS df_b, df_ab,
           round(ln(CAST(n AS DOUBLE) * df_ab
                    / (CAST(ua.df_u AS DOUBLE) * ub.df_u)), 6) AS pmi
    FROM pairs
    JOIN uni ua ON ua.tok = pairs.tok_a
    JOIN uni ub ON ub.tok = pairs.tok_b
    CROSS JOIN nn
    """,
)
def doc_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Document-grain token co-occurrence PMI: within-doc pairs explode
    # from the sorted distinct-token array (quadratic in DOC
    # vocabulary, never corpus size), unary df broadcasts twice, the
    # corpus count is a broadcast one-row frame. See
    # operators/curate.token_pmi for the 100 TB notes.
    from pydala2_spark.operators.curate import token_pmi

    return token_pmi(_t(spark, sf_dir, "documents"), min_pair_docs=5)



@query(
    "doc_zipf_fit",
    """
    WITH c AS (
      SELECT t, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE length(t) > 0 GROUP BY t
    ), xy AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM (SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS r, c FROM c)
      WHERE r <= 1000
    ), s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 * (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf-law OLS over the term-frequency rank curve: one corpus-sized
    # count agg, then everything runs on the vocabulary. Decimal moment
    # sums keep the fit order-independent. See operators/curate.zipf_fit
    # for the 100 TB notes.
    from pydala2_spark.operators.curate import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=1000)



# =====================================================================
# Text analysis (LLM-data-pipeline extension)
# =====================================================================


@query(
    "doc_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           round(list_sum(list_transform(string_split(text, ' '), t -> len(t)))
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 4) AS ttr
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.functions import text as X

    # tokenize ONCE; the four metrics share the materialized array
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select(
            "doc_id",
            X.token_count(tokens_col="__tk").alias("n_tokens"),
            X.unique_token_count(tokens_col="__tk").alias("n_unique"),
            F.round(X.avg_token_length(tokens_col="__tk"), 4).alias("avg_token_len"),
            F.round(X.type_token_ratio(tokens_col="__tk"), 4).alias("ttr"),
        )
    )



@query(
    "doc_quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           {_oavg("0.4 * least(n_tok, 100) / 100.0 + 0.4 * n_uniq / n_tok + 0.2 * (1 - n_stop / n_tok)")} AS avg_quality
    FROM t GROUP BY lang
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.functions import text as X

    return (
        _t(spark, sf_dir, "documents")
        .select("lang", F.split("text", " ").alias("__tk"))
        .select("lang", X.quality_score(tokens_col="__tk").alias("q"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), _davg("q").alias("avg_quality"))
    )



@query(
    "doc_lang_id",
    """
    WITH s AS (
      SELECT lang,
             len(list_filter(string_split(text,' '), t -> t IN ('the','a','of')))   AS s_en,
             len(list_filter(string_split(text,' '), t -> t IN ('der','die','und'))) AS s_de,
             len(list_filter(string_split(text,' '), t -> t IN ('el','la','los')))  AS s_es,
             len(list_filter(string_split(text,' '), t -> t IN ('le','les','des'))) AS s_fr,
             len(list_filter(string_split(text,' '), t -> t IN ('de','shi','le')))  AS s_zh
      FROM documents
    )
    SELECT lang,
           CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted,
           count(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # confusion matrix of heuristic marker-based language ID vs label
    from pydala2_spark.functions import text as X

    return (
        _t(spark, sf_dir, "documents")
        .select("lang", F.split("text", " ").alias("__tk"))
        .select("lang", X.lang_id(tokens_col="__tk").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )



@query(
    "doc_exact_dedup",
    f"""
    WITH g AS (
      SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS keep_id
      FROM documents GROUP BY 1
    )
    SELECT count(*) AS n_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(sum(CASE WHEN n_docs > 1 THEN n_docs - 1 ELSE 0 END) AS BIGINT) AS n_removable
    FROM g
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(_t(spark, sf_dir, "documents"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs") - 1).otherwise(0)).alias("n_removable"),
    )



@query(
    "doc_fingerprint_groups",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 4, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS sh
      FROM toks
    ), fp AS (
      SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS fp FROM sh
    )
    SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM fp GROUP BY fp HAVING count(*) > 1
    """,
)
def doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.functions.text import doc_fingerprint

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select("doc_id", doc_fingerprint(k=5, tokens_col="__tk").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )



@query(
    "doc_curation",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS tk
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, n_chars, text, tk,
             0.4 * least(len(tk), 100) / 100.0
             + 0.4 * len(list_distinct(tk)) / len(tk)
             + 0.2 * (1 - len(list_filter(tk, x -> x IN ('the', 'a', 'of', 'and'))) / len(tk))
               AS q
      FROM t
    ), passing AS (
      SELECT * FROM scored WHERE q >= 0.58 AND lang IN ('en', 'de', 'es')
    ), eg AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM passing
    ), surv AS (
      SELECT p.doc_id, p.lang, p.n_chars // 25 AS lb, list_distinct(p.tk) AS dtk,
             list_min(list_transform(list_distinct(p.tk),
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mb
      FROM passing p JOIN eg ON p.doc_id = eg.doc_id
      WHERE eg.doc_id = eg.keeper
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM surv a JOIN surv b
        ON a.lang = b.lang AND a.lb = b.lb AND a.mb = b.mb AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.dtk, b.dtk))
            / len(list_distinct(list_concat(a.dtk, b.dtk))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ), cc AS (
      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
    ), near AS (
      SELECT node AS doc_id FROM cc WHERE node <> cluster_id
    )
    SELECT s.doc_id,
           'low_quality' AS status
    FROM scored s WHERE NOT (s.q >= 0.58 AND s.lang IN ('en', 'de', 'es'))
    UNION ALL
    SELECT eg.doc_id, 'exact_dup' FROM eg WHERE eg.doc_id <> eg.keeper
    UNION ALL
    SELECT doc_id, 'near_dup' FROM near
    UNION ALL
    SELECT s.doc_id, 'kept'
    FROM surv s LEFT JOIN near n ON s.doc_id = n.doc_id
    WHERE n.doc_id IS NULL
    """,
)
def doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full training-data pipeline as one query: quality gate →
    # exact dedup → near-dup cluster dedup → disposition. See
    # operators/curate.py for the scale analysis per stage.
    from pydala2_spark.operators.curate import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"))



def _pii_oracle() -> str:
    from pydala2_spark.functions.text import PII_PATTERNS

    def q(p: str) -> str:
        return p.replace("'", "''")

    counts = ",\n           ".join(
        "CAST(sum(len(regexp_extract_all(text, '%s'))) AS BIGINT) AS n_%s"
        % (q(p), k)
        for k, p in PII_PATTERNS.items()
    )
    redacted = "text"
    for kind in ("url", "email", "phone", "ipv4"):
        redacted = "regexp_replace(%s, '%s', '[REDACTED]', 'g')" % (
            redacted,
            q(PII_PATTERNS[kind]),
        )
    return """
    SELECT lang,
           count(*) AS n_docs,
           %s,
           CAST(sum(len(regexp_extract_all(%s, '%s'))) AS BIGINT) AS residual_email
    FROM documents
    GROUP BY lang
    """ % (counts, redacted, q(PII_PATTERNS["email"]))



@query("doc_pii_scan", _pii_oracle())
def doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII inventory + scrub verification per language: counts of
    # emails/phones/IPs/URLs in the raw text, and the email count
    # REMAINING after redact_pii (must mirror the oracle's replace
    # chain). Pure regexp built-ins — codegen end to end; this is the
    # pre-training scrubbing pass at corpus scale.
    from pydala2_spark.functions.text import PII_PATTERNS, pii_count, redact_pii

    d = _t(spark, sf_dir, "documents")
    aggs = [
        F.sum(pii_count(k)).cast("long").alias(f"n_{k}") for k in PII_PATTERNS
    ]
    residual = F.regexp_count(redact_pii(), F.lit(PII_PATTERNS["email"]))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *aggs,
        F.sum(residual).cast("long").alias("residual_email"),
    )



@query(
    "doc_bpe_token_stats",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|\\w+|[^\\w\\s]')) AS n_bpe,
           len(string_split(text, ' ')) AS n_ws,
           round(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|\\w+|[^\\w\\s]'))
                 / len(string_split(text, ' ')), 4) AS tokens_per_word
    FROM documents
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE-ish token counting (GPT-2 pre-tokenizer shape): the LLM cost
    # estimator — whitespace counts undercount punctuation-heavy text.
    # Pure regexp_extract_all, whole-stage codegen.
    from pydala2_spark.functions.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    n_bpe = bpe_token_count("text")
    n_ws = token_count("text")
    return d.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        n_ws.alias("n_ws"),
        F.round(n_bpe / n_ws, 4).alias("tokens_per_word"),
    )



@query(
    "doc_winnow_candidates",
    """
    WITH tk AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647) AS th
      FROM documents
    ), gh AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(th) - 4, 1)),
               i -> ((((((((th[i] * 1000003 + th[i+1]) % 2147483647)
                          * 1000003 + th[i+2]) % 2147483647)
                          * 1000003 + th[i+3]) % 2147483647)
                          * 1000003 + th[i+4]) % 2147483647)) AS h
      FROM tk
    ), fp AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(h) - 3, 1)),
               p -> list_min(h[p:p+3]))) AS fps
      FROM gh
    ), x AS (
      SELECT doc_id, f FROM fp, unnest(fps) AS u(f)
    ), xf AS (
      SELECT doc_id, f FROM (
        SELECT doc_id, f, count(*) OVER (PARTITION BY f) AS df FROM x
      ) WHERE df <= 10
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
    FROM xf a JOIN xf b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def doc_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing (k=5 grams, w=4 windows): candidate pairs sharing >= 2
    # fingerprints via an exploded equi-join — the rolling-hash
    # fingerprint route to near-dup candidates (guaranteed to catch any
    # shared run of k+w-1 = 8 tokens). Ubiquitous fingerprints (shared
    # by > 10 docs — boilerplate grams) are dropped BEFORE the
    # self-join, the standard winnowing df-cap: without it one hot
    # fingerprint costs df²/2 pairs and the join goes quadratic
    # (measured 42 s → 1 s at sf0.1). The df window and the self-join
    # share the fingerprint partitioning — one shuffle total.
    from pydala2_spark.functions.text import winnowing_fingerprints

    # the corpus file is a single sub-128MB split, but the per-doc
    # fingerprint cost (one md5 per gram, interpreted HOFs) is high —
    # spread the compute across all cores BEFORE the heavy projection
    # (at 100 TB the many input files provide this parallelism for free)
    d = (
        _t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select("doc_id", F.explode(winnowing_fingerprints(tokens_col="__tk")).alias("f"))
    )
    # both self-join sides read this once instead of paying the
    # fingerprint computation twice
    rare = materialize(
        d.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("f")))
        .filter(F.col("df") <= 10)
        .drop("df")
    )
    return (
        rare.alias("a")
        .join(rare.alias("b"), (F.col("a.f") == F.col("b.f")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )



@query(
    "doc_repetition_screen",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), s AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             len(list_distinct(tk)) AS dt,
             greatest(len(tk) - 2, 1) AS n3,
             len(list_distinct(list_transform(
                 generate_series(1, greatest(len(tk) - 2, 1)),
                 i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS d3
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(1.0 - dt / n_tokens, 4) AS dup_token_frac,
           round(1.0 - d3 / n3, 4) AS dup_3gram_frac,
           CAST((1.0 - d3 / n3) > 0.2 AS INT) AS repetitive
    FROM s
    """,
)
def doc_repetition_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition rule (Rae et al. 2021 §A1.1): the
    # duplicate n-gram fraction separates boilerplate / keyword
    # stuffing / generation loops from natural prose. Pure per-row
    # expressions at scan time — at 100 TB this is a free pass over
    # the corpus, no shuffle.
    from pydala2_spark.functions import text as X
    from pydala2_spark.functions.text import duplicate_ngram_fraction

    rep3 = duplicate_ngram_fraction(tokens_col="__tk")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select(
            "doc_id",
            X.token_count(tokens_col="__tk").alias("n_tokens"),
            F.round(
                F.lit(1.0)
                - X.unique_token_count(tokens_col="__tk")
                / X.token_count(tokens_col="__tk"),
                4,
            ).alias("dup_token_frac"),
            F.round(rep3, 4).alias("dup_3gram_frac"),
            (rep3 > 0.2).cast("int").alias("repetitive"),
        )
    )



@query(
    "doc_contamination",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 generate_series(1, greatest(len(tk) - 7, 1)),
                 i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                tk[i+4], tk[i+5], tk[i+6], tk[i+7]))) AS shs
      FROM t
    ), bench AS (
      SELECT DISTINCT s FROM sh, unnest(shs) AS u(s)
      WHERE doc_id % 50 = 0 AND len(string_split(s, ' ')) = 8
    ), corp AS (
      SELECT doc_id, s FROM sh, unnest(shs) AS u(s) WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, count(*) AS n_shared_ngrams
    FROM corp c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: corpus docs sharing any 8-token
    # shingle with the held-out set (docs with id % 50 == 0 stand in
    # for an eval suite). The eval side broadcasts — the 100 TB corpus
    # is never shuffled, only its matched (doc, shingle) rows.
    from pydala2_spark.operators.curate import contamination_screen

    docs = _t(spark, sf_dir, "documents")
    return contamination_screen(
        corpus=docs.filter(F.col("doc_id") % 50 != 0),
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        k=8,
    )



@query(
    "doc_pack_sequences",
    """
    WITH t AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n FROM documents
    ), laid AS (
      SELECT lang, doc_id, n,
             sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
               AS start
      FROM t
    )
    SELECT lang, CAST(start // 2048 AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS seq_tokens
    FROM laid GROUP BY lang, start // 2048
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-and-chop packing into 2048-token training sequences, per
    # language: one prefix-sum window per group + one aggregation.
    from pydala2_spark.operators.curate import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=2048)



@query(
    "doc_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          < CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
                      ELSE 1000000 END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic md5-coin stratified downsampling (en 25%, de 50%,
    # rest kept): the domain-mixing step of a data recipe, reproducible
    # across runs/engines — a plain scan-side predicate at 100 TB.
    from pydala2_spark.operators.curate import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates={"en": 0.25, "de": 0.5},
        default_rate=1.0,
    ).select("doc_id", "lang")



@query(
    "doc_chunk_windows",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), n AS (
      SELECT doc_id, tk,
             greatest(1, CAST(ceil((len(tk) - 64) / 32.0) AS INT) + 1) AS nc
      FROM t
    )
    SELECT doc_id, c AS chunk_id,
           len(tk[c*32+1 : c*32+64]) AS n_chunk_tokens,
           md5(array_to_string(tk[c*32+1 : c*32+64], ' ')) AS chunk_md5
    FROM n, unnest(generate_series(0, nc - 1)) AS u(c)
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # overlapping 64-token windows, 32-token stride — the chunking
    # step in front of an embedding pipeline. Scan-side explode, no
    # shuffle; chunk text is md5'd for the hash compare (returning
    # full chunk text would just re-ship the corpus).
    from pydala2_spark.operators.curate import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), size=64, stride=32
    ).select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )



@query(
    "doc_source_mix",
    """
    WITH g AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the data-mixture report a training recipe is negotiated over:
    # per (source, lang) doc counts, token totals, corpus share. One
    # map-side-combined aggregation at any scale.
    from pydala2_spark.operators.curate import source_mix_report

    return source_mix_report(_t(spark, sf_dir, "documents"))



@query(
    "doc_temperature_mix",
    """
    WITH g AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    ), w AS (
      SELECT *, n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share_raw
      FROM g
    ), r AS (
      SELECT *, pow(share_raw, -0.5) AS raw FROM w
    )
    SELECT source, lang, n_docs, n_tokens,
           round(share_raw, 6) AS share,
           round(raw / max(raw) OVER (), 6) AS rate
    FROM r
    """,
)
def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temperature-based mixture reweighting (alpha=0.5): per-group
    # sampling rates ∝ share^(alpha-1), scaled to max 1 — the standard
    # multilingual rebalancing rule. Corpus-side work is one map-side-
    # combined agg; the rate math runs on the |groups|-row frame.
    from pydala2_spark.operators.curate import temperature_resample_rates

    return temperature_resample_rates(_t(spark, sf_dir, "documents"), alpha=0.5)



@query(
    "doc_entropy_quality",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
      SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok
    ), s AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             sum(c * ln(c)) AS sl
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, round(ln(n_tokens) - sl / n_tokens, 4) AS entropy
    FROM s
    """,
)
def doc_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-document unigram Shannon entropy H = ln(n) − Σ c·ln(c)/n —
    # the token-diversity quality signal (boilerplate and generation
    # loops score low, natural prose high; complements the duplicate-
    # ngram repetition screen). Two hash aggregations, both with
    # map-side combine: the (doc, token) shuffle carries distinct
    # tokens per doc, the per-doc shuffle one row per doc. At 100 TB
    # this is the canonical exploded-token agg — no joins, no windows.
    docs = _t(spark, sf_dir, "documents")
    c = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = c.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.log("c")).alias("sl"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        F.round(F.log("n_tokens") - F.col("sl") / F.col("n_tokens"), 4).alias(
            "entropy"
        ),
    )



@query(
    "doc_train_test_split",
    """
    SELECT doc_id, lang,
           CASE WHEN ('0x' || substr(md5('split:exp1' || CAST(doc_id AS VARCHAR)),
                      1, 8))::BIGINT % 1000000 < 100000 THEN 'test'
                WHEN ('0x' || substr(md5('split:exp1' || CAST(doc_id AS VARCHAR)),
                      1, 8))::BIGINT % 1000000 < 150000 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 85/5/10 train/val/test assignment from md5(salt||id)
    # — stable across runs/executors/engines, so re-filtered or
    # re-sharded corpora never leak documents across the split
    # boundary (the property rand() splits silently violate). One
    # scan-stage md5+modulo per row. (Outside the r5 driver window —
    # mirror-green now, rotates in next round with doc_unigram_logprob.)
    from pydala2_spark.operators.curate import train_test_split

    return train_test_split(
        _t(spark, sf_dir, "documents"),
        test_fraction=0.1,
        val_fraction=0.05,
        salt="exp1",
    ).select("doc_id", "lang", "split")



@query(
    "doc_gopher_rules",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS nw
      FROM documents
    )
    SELECT doc_id,
           nw >= 20 AND nw <= 100000 AS word_count_ok,
           list_sum(list_transform(toks, x -> length(x))) / nw >= 3
             AND list_sum(list_transform(toks, x -> length(x))) / nw <= 10
             AS mean_word_len_ok,
           ((length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '...', ''))) / 3)
             / nw <= 0.1 AS symbol_ratio_ok,
           len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
             / nw >= 0.8 AS alpha_ratio_ok,
           len(list_intersect(list_distinct(toks),
               ['the','be','to','of','and','that','have','with'])) >= 2
             AS stopword_ok,
           (nw >= 20 AND nw <= 100000)
             AND (list_sum(list_transform(toks, x -> length(x))) / nw >= 3
                  AND list_sum(list_transform(toks, x -> length(x))) / nw <= 10)
             AND (((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3)
                  / nw <= 0.1)
             AND (len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                  / nw >= 0.8)
             AND (len(list_intersect(list_distinct(toks),
                  ['the','be','to','of','and','that','have','with'])) >= 2)
             AS gopher_pass
    FROM t
    """,
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The published Gopher/MassiveWeb document-quality rules (Rae et
    # al. 2021 Appendix A) as per-flag diagnostics: word count, mean
    # word length, symbol ratio, alphabetic-word fraction, stop-set
    # membership + the conjunction. All scan-stage Catalyst expressions
    # over ONE shared token projection — zero shuffles, zero Python.
    from pydala2_spark.functions.text import gopher_rules

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__toks", F.split(F.col("text"), " ")
    )
    flags = gopher_rules(tokens_col="__toks", min_words=20)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in flags.items()]
    )



@query(
    "doc_bm25_search",
    """
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id,
           round(CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 4) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 15
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Okapi BM25 top-k retrieval over the corpus — the lexical-search
    # probe a pipeline runs for contamination spot-checks / topic
    # pulls. One corpus explode; postings pre-filter to the query terms
    # at the scan; N/avgdl broadcast; TakeOrderedAndProject top-k. See
    # operators/curate.bm25_search for the 100 TB notes.
    from pydala2_spark.operators.curate import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), "spark join window", top_k=15
    )



@query(
    "doc_dsir_resample",
    """
    WITH toks AS (
      SELECT doc_id, t AS tok
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
    ), per_doc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), qc AS (
      SELECT tok, CAST(sum(c) AS BIGINT) AS qc FROM per_doc GROUP BY tok
    ), pc AS (
      SELECT t AS tok, count(*) AS pc
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE lang = 'en' GROUP BY t
    ), tbl AS (
      SELECT qc.tok, qc.qc, COALESCE(pc.pc, 0) AS pc
      FROM qc LEFT JOIN pc USING (tok)
    ), consts AS (
      SELECT CAST(sum(qc) AS BIGINT) AS tq, CAST(sum(pc) AS BIGINT) AS tp,
             count(*) AS v
      FROM tbl
    ), lr AS (
      SELECT tok,
             ln((pc + 0.5) / (tp + 0.5 * v))
               - ln((qc + 0.5) / (tq + 0.5 * v)) AS lr
      FROM tbl CROSS JOIN consts
    ), lw AS (
      SELECT per_doc.doc_id,
             round(CAST(sum(CAST(c * lr AS DECIMAL(38,6))) AS DOUBLE), 6) AS lwr
      FROM per_doc JOIN lr USING (tok) GROUP BY per_doc.doc_id
    )
    SELECT doc_id, round(lwr, 4) AS log_weight,
           round(lwr - ln(-ln(
             (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000 + 0.5) / 1000000.0)), 4) AS gumbel_key
    FROM lw
    ORDER BY gumbel_key DESC, doc_id ASC LIMIT 200
    """,
)
def doc_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR (Xie et al. 2023): importance-resample the raw corpus toward
    # the English subset — add-half-smoothed target/raw unigram
    # log-ratio weights + deterministic md5-Gumbel top-n (exact
    # without-replacement sampling by importance weight, reproducible
    # across engines). See operators/curate.dsir_resample for the
    # 100 TB notes (Zipf-small ratio table, decimal-accumulated
    # weights, distributed partial top-k).
    from pydala2_spark.operators.curate import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(docs, docs.filter(F.col("lang") == "en"), n=200)



@query(
    "doc_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, t AS tok
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
    ), per_doc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), vocab AS (
      SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM per_doc GROUP BY tok
    ), tot AS (
      SELECT count(*) AS n FROM toks
    ), lp AS (
      SELECT per_doc.doc_id, per_doc.c,
             ln(CAST(vocab.cc AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lp
      FROM per_doc JOIN vocab USING (tok) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(lp * c AS DECIMAL(38,6))) AS DOUBLE)
                 / sum(c), 4) AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style perplexity-proxy quality signal: per-doc mean token
    # log-probability under the corpus's own MLE unigram model. One
    # explode + two map-side-combined aggs + one broadcast vocab join;
    # decimal-accumulated weighted mean so both engines agree to the
    # bit. See operators/curate.unigram_logprob_scores for 100 TB
    # notes. (Outside the r5 driver window — slot 50 is taken by
    # emb_semantic_dedup; mirror-covered now, rotates in next round.)
    from pydala2_spark.operators.curate import unigram_logprob_scores

    return unigram_logprob_scores(_t(spark, sf_dir, "documents"))



@query(
    "doc_bigram_logprob",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), bg AS (
      SELECT doc_id, tk[i] AS p, tk[i + 1] AS w
      FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
    ), per_doc AS (
      SELECT doc_id, p, w, count(*) AS c FROM bg GROUP BY doc_id, p, w
    ), bi AS (
      SELECT p, w, CAST(sum(c) AS BIGINT) AS cpw FROM per_doc GROUP BY p, w
    ), ctx AS (
      SELECT p, CAST(sum(cpw) AS BIGINT) AS cp FROM bi GROUP BY p
    ), lp AS (
      SELECT per_doc.doc_id, per_doc.c,
             ln(CAST(bi.cpw AS DOUBLE) / CAST(ctx.cp AS DOUBLE)) AS lp
      FROM per_doc JOIN bi USING (p, w) JOIN ctx USING (p)
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(lp * c AS DECIMAL(38,6))) AS DOUBLE)
                 / sum(c), 4) AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Conditional bigram LM quality score — catches shuffled word-salad
    # the unigram screen passes (transitions unseen-rare, tokens
    # common). Every post-explode stage runs on the Zipf-small
    # (doc, prev, word, count) frame, materialized once; context
    # totals are an aggregate OF the bigram table, never a second
    # corpus pass. See operators/curate.bigram_logprob_scores for the
    # 100 TB notes.
    from pydala2_spark.operators.curate import bigram_logprob_scores

    return bigram_logprob_scores(_t(spark, sf_dir, "documents"))



@query(
    "doc_substring_spans",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= 5
    ), sh AS (
      SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+4], ' ')) AS h
      FROM t, unnest(generate_series(1, n - 4)) AS u(i)
    ), freq AS (
      SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), dup AS (
      SELECT sh.doc_id, sh.pos FROM sh JOIN freq USING (h)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + 4) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM isl
    ), spans AS (
      SELECT doc_id, g, min(pos) AS s, max(pos) + 4 AS e
      FROM isl2 GROUP BY doc_id, g
    ), agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
           coalesce(agg.n_spans, 0) AS n_spans,
           coalesce(agg.dup_tokens, 0) AS dup_tokens,
           round(CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE) / t.n, 4)
             AS dup_frac
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def doc_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maximal duplicated-substring spans (Lee et al. 2022 substring
    # dedup as a sliding-shingle + gaps-and-islands plan): 5-token
    # shingles md5'd at the scan, duplicated positions merged into
    # maximal spans per document, coverage reported. Documents never
    # compare pairwise — only through the shingle-frequency table. See
    # operators/dedup.duplicated_substring_spans for 100 TB notes.
    from pydala2_spark.operators.dedup import duplicated_substring_spans

    return duplicated_substring_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )



@query(
    "doc_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE len(t) >= 4
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 4)
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tf, df, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-document TF-IDF keywords — corpus feature extraction for
    # keyword filtering / topic bucketing. One explode, two hash aggs
    # (both map-side combined), DF side broadcast, N via a broadcast
    # one-row count frame (no driver collect — the whole query is one
    # lazy plan).
    from pydala2_spark.operators.curate import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_n=3, min_len=4)



@query(
    "doc_segment_dups",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), segs AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(tk, (i - 1) * 3 + 1, i * 3), ' '))
               AS seg
      FROM t, unnest(generate_series(1, len(tk) // 3)) AS g(i)
    ), nd AS (
      SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_frac
    FROM segs s JOIN nd USING (seg)
    GROUP BY s.doc_id
    """,
)
def doc_segment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-document boilerplate screen: share of non-overlapping
    # 3-token segments that also occur in another document. Segments
    # are md5'd before the shuffle (fixed-width keys at 100 TB); one
    # seg-frequency agg + one equi-join + one per-doc agg.
    from pydala2_spark.operators.dedup import cross_doc_segment_dups

    return cross_doc_segment_dups(_t(spark, sf_dir, "documents"), k=3)



@query(
    "doc_boilerplate_removal",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) // 3 AS nseg
      FROM documents
    ), segs AS (
      SELECT doc_id, i AS sid,
             md5(array_to_string(list_slice(tk, (i - 1) * 3 + 1, i * 3), ' '))
               AS h
      FROM t, unnest(generate_series(1, nseg)) AS g(i)
    ), nd AS (
      SELECT h, count(DISTINCT doc_id) AS nd FROM segs GROUP BY h
    ), drops AS (
      SELECT s.doc_id, list(s.sid) AS drop_sids
      FROM segs s JOIN nd USING (h) WHERE nd.nd >= 2
      GROUP BY s.doc_id
    ), reb AS (
      SELECT t.doc_id,
             list_concat(
               flatten(list_transform(
                 list_filter(generate_series(1, t.nseg),
                             i -> NOT list_contains(coalesce(d.drop_sids, []), i)),
                 i -> list_slice(t.tk, (i - 1) * 3 + 1, i * 3))),
               list_slice(t.tk, t.nseg * 3 + 1, len(t.tk))
             ) AS kept,
             coalesce(len(d.drop_sids), 0) AS ndrop
      FROM t LEFT JOIN drops d USING (doc_id)
    )
    SELECT doc_id,
           array_to_string(kept, ' ') AS cleaned,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(ndrop AS BIGINT) AS n_dropped
    FROM reb WHERE len(trim(array_to_string(kept, ' '))) > 0
    """,
)
def doc_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4/MassiveText-style repeated-passage REMOVAL (doc_segment_dups
    # is the screen; this is the edit): cut every non-overlapping
    # 3-token segment seen verbatim in >= 2 distinct documents,
    # reassemble survivors + tail in order. Only md5 keys and segment
    # ordinals cross shuffles; document text is rebuilt scan-side from
    # the original token array. See operators/dedup.
    # remove_boilerplate_segments for the 100 TB notes.
    from pydala2_spark.operators.dedup import remove_boilerplate_segments

    return remove_boilerplate_segments(
        _t(spark, sf_dir, "documents"), k=3, min_docs=2
    )



@query(
    "doc_priority_sample",
    """
    WITH p AS (
      SELECT doc_id, lang, n_chars,
             CAST(n_chars AS DOUBLE) * 1152921504606846976.0
               / CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       + 1) AS DOUBLE) AS pri
      FROM documents
    ), t AS (
      SELECT doc_id, lang, n_chars, pri,
             row_number() OVER (ORDER BY pri DESC, doc_id) AS rn
      FROM (SELECT * FROM p ORDER BY pri DESC, doc_id LIMIT 65)
    ), tau AS (
      SELECT coalesce(max(CASE WHEN rn = 65 THEN pri END), 0.0) AS tau FROM t
    ), s AS (
      SELECT doc_id, lang, n_chars, pri,
             greatest(CAST(n_chars AS DOUBLE), tau.tau) AS w_est
      FROM t, tau WHERE rn <= 64
    ), tot AS (
      SELECT CAST(round(sum(CAST(w_est AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS est_total
      FROM s
    ), ex AS (
      SELECT CAST(sum(n_chars) AS BIGINT) AS exact_total FROM documents
    )
    SELECT s.doc_id, s.lang, s.n_chars,
           round(s.pri, 2) AS priority,
           round(s.w_est, 2) AS w_est,
           tot.est_total, ex.exact_total
    FROM s, tot, ex
    """,
)
def doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus downsampling with UNBIASED size estimation —
    priority sampling (Duffield-Lund-Thorup 2007): k=64 docs sampled
    with probability increasing in n_chars via deterministic hash
    priorities q = w/u, plus each survivor's Horvitz-Thompson weight
    estimate max(w, tau). The punchline columns: est_total (the sum of
    the 64 estimates) sits next to exact_total (the true corpus
    character count) — the estimator a pipeline uses to budget token
    counts from a tiny weighted sample. Heavy docs (w >= tau) are
    sampled with certainty at exact weight; rand()-based weighted
    reservoirs cannot be oracle-verified like this.

    100 TB shape: priorities are scan-stage expressions; the top-(k+1)
    is one TakeOrderedAndProject pass (<= k+1 rows leave any
    partition); tau and the estimates derive from that same pass
    (sample is materialized: corpus scanned ONCE).
    See operators/curate.priority_sample."""
    from pydala2_spark.operators.curate import priority_sample

    docs = _t(spark, sf_dir, "documents")
    s = materialize(
        priority_sample(
            docs.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", k=64
        )
    )
    tot = s.agg(_dsum("__w_est", 2).alias("est_total"))
    ex = docs.agg(F.sum("n_chars").cast("long").alias("exact_total"))
    return (
        s.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ex))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("__priority", 2).alias("priority"),
            F.round("__w_est", 2).alias("w_est"),
            "est_total",
            "exact_total",
        )
    )



@query(
    "doc_substring_search",
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE text LIKE '%merge batch%'
    """,
)
def doc_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring (LIKE '%pat%') search THROUGH a persisted trigram
    index — the pg_trgm idea as partition-pruned parquet: build
    DISTINCT (doc, 3-gram) postings hive-partitioned by gram bucket,
    then answer the search by intersecting the pattern's posting
    lists (only those bucket directories are read) and verifying the
    candidate superset with one contains(). End to end in the gate:
    build + probe must equal the oracle's full LIKE scan exactly.
    Substring predicates are the access pattern neither word indexes
    nor min/max stats can serve; this is the third persisted-index
    family next to BM25 postings and the IVF cells.

    100 TB shape: corpus text is read once at build; each search
    reads |pattern grams|/buckets of the postings + an id-keyed
    semi-join; text is touched only for candidate rows.
    See operators/curate.build_trigram_index."""
    from pydala2_spark.operators.curate import (
        build_trigram_index,
        substring_search_indexed,
    )

    docs = _t(spark, sf_dir, "documents")
    root = _app_scoped_tmp(spark, sf_dir, "pydala2_spark_trgm")
    path = f"{root}/idx"
    build_trigram_index(spark, docs, path)
    return substring_search_indexed(
        spark, path, docs, "merge batch"
    ).select("doc_id", "lang", "n_chars")



_MOJIBAKE_INJECT = [
    (" the ", " thÃ© "),   # thé read as cp1252
    (" and ", " Ã¡nd "),   # ánd
    (" on ", " Ã¶n "),     # ön
    (" up ", " Ã¼p "),     # üp
    (" it ", " â€™it "),  # ’it (curly apostrophe)
]



def _mojibake_oracle() -> str:
    from pydala2_spark.functions.text import mojibake_oracle_exprs

    corrupted = "text"
    for pat, rep in _MOJIBAKE_INJECT:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        corrupted = f"replace({corrupted}, '{p}', '{r}')"
    cnt, fix = mojibake_oracle_exprs("c")
    return f"""
    WITH co AS (SELECT doc_id, {corrupted} AS c FROM documents),
    m AS (SELECT doc_id, {cnt} AS n_bad, md5({fix}) AS fixed_md5 FROM co)
    SELECT doc_id, n_bad, fixed_md5 FROM m WHERE n_bad > 0
    """



@query("doc_mojibake_repair", _mojibake_oracle())
def doc_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption repair, end to end: deterministically
    corrupt the corpus with classic UTF-8-read-as-cp1252 mojibake
    (five common words gain mangled accents/punctuation — the same
    replace chain in both engines), then DETECT (sequence counts via
    replace-length arithmetic, no regex) and REPAIR with the generated
    22-pattern table (char.encode('utf-8').decode('cp1252'), applied
    longest-first). The ftfy-style cleanup every web-scraped training
    corpus needs, scan-stage and Python-free; repaired bodies md5'd
    for the oracle. See functions/text.fix_mojibake."""
    from pydala2_spark.functions.text import fix_mojibake, mojibake_count


    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    for pat, rep in _MOJIBAKE_INJECT:
        c = F.replace(c, F.lit(pat), F.lit(rep))
    # materialize (doc_id, n_bad, fixed_md5) BEFORE the n_bad filter:
    # predicate pushdown otherwise substitutes the whole ~350-replace()
    # detect/repair chain into the Filter node too, evaluating it
    # twice per row (r14 plan audit: 352 replaces in Filter + 389 in
    # Project → one pass over 3 narrow columns)
    out = materialize(
        docs.select(
            "doc_id",
            mojibake_count(col=c).alias("n_bad"),
            F.md5(fix_mojibake(col=c).cast("binary")).alias("fixed_md5"),
        )
    )
    return out.filter(F.col("n_bad") > 0)



def _bpe_learn_oracle() -> str:
    from pydala2_spark.operators.curate import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql(
        "SELECT text FROM documents", n_merges=12
    )



@query("doc_bpe_learn", _bpe_learn_oracle())
def doc_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the corpus (Sennrich et al. 2016):
    the first 12 learned merges with their pair counts — the pipeline
    step that produces the tokenizer everything downstream counts
    with. One corpus pass builds the word-frequency table; every merge
    round then runs on the Zipf-bounded DISTINCT-word table
    (corpus-size-insensitive): one map-side-combined pair-count
    aggregate, one single-row argmax with deterministic ties
    (count DESC, lexicographic), one scan-stage replace(). The oracle
    unrolls the identical loop as chained CTEs over the same
    delimited-string symbol representation — both engines' replace()
    is greedy left-to-right, so merge application is bit-identical.
    See operators/curate.learn_bpe_merges for 100 TB notes."""
    from pydala2_spark.operators.curate import learn_bpe_merges

    merges = learn_bpe_merges(_t(spark, sf_dir, "documents"), n_merges=12)
    rows = [
        (i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left_sym string, right_sym string, "
        "pair_count long",
    )



def _bpe_compression_oracle() -> str:
    from pydala2_spark.operators.curate import bpe_encode_oracle_sql

    return bpe_encode_oracle_sql(
        "SELECT text, source FROM documents", n_merges=12
    )



@query("doc_bpe_compression", _bpe_compression_oracle())
def doc_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer train-then-measure loop: learn 12 BPE merges
    on the corpus (doc_bpe_learn's algorithm), ENCODE every word under
    them, and report per-source compression — words, chars, subword
    tokens, chars-per-token. The ratio that decides what a context
    window costs per source, measured with the corpus's own tokenizer
    rather than a hand-set token model. Encoding applies the merges in
    order to the DISTINCT-word vocabulary only (the corpus is touched
    twice total); the oracle replays train AND encode as one unrolled
    CTE chain, bit-exact. See operators/curate.bpe_encode_token_counts
    for 100 TB notes."""
    from pydala2_spark.operators.curate import (
        bpe_encode_token_counts,
        learn_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=12)
    return bpe_encode_token_counts(docs, merges, group_cols=("source",))



@query(
    "doc_rake_keyphrases",
    """
    WITH toks AS (
      SELECT doc_id, tk[i] AS tok, i AS ord
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           unnest(generate_series(1, len(tk))) AS g(i)
    ), ph AS (
      SELECT doc_id, tok, ord,
             sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY ord
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pid
      FROM toks
      QUALIFY tok NOT IN ('the', 'a')
    ), plen AS (
      SELECT doc_id, pid, count(*) AS plen FROM ph GROUP BY 1, 2
    ), ws AS (
      SELECT tok,
             round(CAST(CAST(sum(plen) AS BIGINT) AS DOUBLE)
                   / count(*), 6) AS wscore
      FROM ph JOIN plen USING (doc_id, pid)
      GROUP BY tok
    ), ptext AS (
      SELECT doc_id, pid,
             string_agg(tok, ' ' ORDER BY ord) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words
      FROM ph GROUP BY 1, 2
    ), pscore AS (
      SELECT ph.doc_id, ph.pid,
             CAST(round(sum(CAST(ws.wscore AS DECIMAL(38,6))), 4)
                  AS DOUBLE) AS score
      FROM ph JOIN ws USING (tok)
      GROUP BY 1, 2
    )
    SELECT p.phrase, p.n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences, s.score
    FROM ptext p JOIN pscore s USING (doc_id, pid)
    GROUP BY p.phrase, p.n_words, s.score
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases = maximal stopword-free token runs; word score =
    degree/frequency over the phrase corpus; phrase score = sum of its
    words' scores. The dependency-free keyword extractor next to
    TF-IDF (df-weighted single terms) — RAKE surfaces MULTI-WORD
    phrases without any external model. Counts are integers, word
    scores round to 6, phrase sums accumulate in exact decimal —
    oracle bit-exact per distinct phrase.

    100 TB shape: phrase segmentation is a per-doc window (doc-local
    sort, no cross-doc shuffle of text); word scores are
    vocabulary-sized and broadcast back.
    See functions/text.rake_keyphrases."""
    from pydala2_spark.functions.text import rake_keyphrases

    docs = _t(spark, sf_dir, "documents")
    return rake_keyphrases(docs, stopwords=("the", "a"))



@query(
    "doc_readability",
    """
    WITH t AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), s AS (
      SELECT lang, tok, len(regexp_extract_all(tok, '[aeiouy]+')) AS syl
      FROM t WHERE tok <> ''
    ), a AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN syl <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mono,
             CAST(sum(syl) AS BIGINT) AS n_syl,
             CAST(sum(length(tok)) AS BIGINT) AS n_chars
      FROM s GROUP BY lang
    )
    SELECT lang, n_words,
           round(CAST(n_mono AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
             AS pct_monosyllabic,
           round(CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
             AS syllables_per_word,
           round(CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
             AS avg_word_len,
           round(20.0 - 15.0 * (CAST(n_mono AS DOUBLE)
                                / CAST(n_words AS DOUBLE)), 4)
             AS forcast_grade
    FROM a
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language FORCAST readability (Caylor et al. 1973) — the
    sentence-boundary-free readability formula, which is the right one
    for boilerplate-stripped corpora where period detection is
    garbage. Syllables = vowel-group runs, a scan-stage regexp in
    whole-stage codegen; one exploded-token agg keyed by lang, all
    counts integer-exact. See functions/text.readability_report."""
    from pydala2_spark.functions.text import readability_report

    return readability_report(_t(spark, sf_dir, "documents"), "lang")



def _collocation_oracle() -> str:
    from pydala2_spark.operators.curate import collocation_llr_oracle_sql

    return collocation_llr_oracle_sql("SELECT text FROM documents", k=25)



@query("doc_collocation_llr", _collocation_oracle())
def doc_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 bigram collocations by Dunning's log-likelihood ratio —
    the statistically-sound phrase miner (PMI's rare-pair explosion
    fixed by evidence weighting; the pairing to doc_token_pmi). One
    corpus explode to adjacent pairs; every later stage runs on the
    Zipf-small distinct-bigram frame materialized once; margins are
    aggregates OF that frame; top-k is one TakeOrderedAndProject on
    the ROUNDED score + text tiebreak.
    See operators/curate.collocation_llr."""
    from pydala2_spark.operators.curate import collocation_llr

    return collocation_llr(_t(spark, sf_dir, "documents"), k=25)



def _js_oracle() -> str:
    from pydala2_spark.operators.curate import js_divergence_oracle_sql

    return js_divergence_oracle_sql("SELECT source, text FROM documents")



@query("doc_js_divergence", _js_oracle())
def doc_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the whole corpus — the domain-shift measure behind mixture
    design (high JS = distributionally novel source; near zero =
    redundant). Only group-present tokens are summed (absent tokens
    fold into a closed-form constant), terms round-12 +
    DECIMAL(38,12)-accumulate; one corpus explode, the rest runs on
    Zipf-small aggregate frames.
    See operators/curate.js_divergence_by_group."""
    from pydala2_spark.operators.curate import js_divergence_by_group

    return js_divergence_by_group(_t(spark, sf_dir, "documents"), "source")



def _textrank_oracle() -> str:
    from pydala2_spark.operators.curate import textrank_edges_oracle_sql
    from pydala2_spark.operators.graph import pagerank_oracle_sql

    inner = pagerank_oracle_sql(textrank_edges_oracle_sql(), iterations=3)
    return f"""
    SELECT node AS token, pr FROM ({inner})
    ORDER BY pr DESC, node ASC LIMIT 25
    """



@query("doc_textrank_keywords", _textrank_oracle())
def doc_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): pagerank
    over the adjacent-token co-occurrence graph, top 25 tokens — the
    graph-centrality keyword miner beside doc_rake_keyphrases'
    degree-based one, REUSING the verified weighted-pagerank core
    (same round-12/decimal iteration contract, oracle unrolled on the
    token graph). The graph is Zipf-small, so it stays below the
    driver edge budget and the loop runs on the driver from one fetch.
    See operators/curate.token_cooccurrence_edges, graph.pagerank."""
    from pydala2_spark.operators.curate import token_cooccurrence_edges
    from pydala2_spark.operators.graph import pagerank

    edges = token_cooccurrence_edges(_t(spark, sf_dir, "documents"))
    sym = edges.unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    pr = pagerank(sym, iterations=3)
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node").asc())
        .limit(25)
        .select(F.col("node").alias("token"), "pr")
    )



def _nb_oracle() -> str:
    from pydala2_spark.operators.curate import nb_classifier_oracle_sql

    return nb_classifier_oracle_sql("SELECT doc_id, source, text FROM documents")



@query("doc_nb_classifier", _nb_oracle())
def doc_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes domain classifier trained and evaluated
    in-engine (train on even doc_ids, predict odd, confusion matrix
    out) — the CCNet/GPT-3-style quality-filter primitive beside
    doc_dsir_resample's importance weighting. Model = Zipf-small
    (token, class) counts materialized once; scoring is an inner join
    on class-present tokens only (absent tokens fold to ln(1) = 0);
    ln terms round-12 + DECIMAL(38,12).
    See operators/curate.nb_domain_classifier."""
    from pydala2_spark.operators.curate import nb_domain_classifier

    return nb_domain_classifier(_t(spark, sf_dir, "documents"))



def _oov_oracle() -> str:
    from pydala2_spark.operators.curate import oov_rate_oracle_sql

    return oov_rate_oracle_sql("doc_id % 2 = 0")



@query("doc_oov_rate", _oov_oracle())
def doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the odd corpus half against the even
    half's vocabulary (token-level and type-level) — the tokenizer-
    coverage / domain-shift eval before committing a vocab: token-OOV
    rising means a stale fit, type-OOV rising faster means new
    jargon. One explode pass; the Heaps-bounded vocabulary broadcasts
    for the membership join; type stats re-aggregate the distinct
    table, not the corpus. See operators/curate.oov_rate."""
    from pydala2_spark.operators.curate import oov_rate

    return oov_rate(_t(spark, sf_dir, "documents"), F.col("doc_id") % 2 == 0)



def _feature_hash_oracle() -> str:
    from pydala2_spark.operators.curate import feature_hash_oracle_sql

    return feature_hash_oracle_sql(n_buckets=64)



@query("doc_feature_hashing", _feature_hash_oracle())
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit: every distinct token hashed into
    64 buckets via md5 (engine-portable, unlike native hash functions)
    with per-bucket type/token load and type share — the measurement
    behind choosing a hashed-feature dimensionality (n_types > 1 in a
    bucket = features silently merged). One explode pass to the
    Heaps-bounded distinct table; the hash is scan-stage on THAT
    table, not the corpus. See operators/curate.feature_hash_audit."""
    from pydala2_spark.operators.curate import feature_hash_audit

    return feature_hash_audit(_t(spark, sf_dir, "documents"), n_buckets=64)



def _novelty_oracle() -> str:
    from pydala2_spark.operators.curate import ngram_novelty_oracle_sql

    return ngram_novelty_oracle_sql(
        "SELECT text FROM documents WHERE doc_id % 2 = 0",
        "SELECT text FROM documents WHERE doc_id % 2 = 1",
        k=5,
    )



@query("doc_ngram_novelty", _novelty_oracle())
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus 5-gram novelty of one document half against the
    other — the memorization / freshness readout of a corpus refresh
    (inverse of doc_contamination's question, and corpus-vs-corpus
    where contamination is corpus-vs-small-benchmark): type novelty
    for new phrasing, occurrence novelty for new token MASS. Both
    sides reduce map-side before ONE shuffled hash equi-join of the
    reduced shingle tables (deliberately NOT a broadcast — both sides
    are corpus-sized at 100 TB). See operators/curate.ngram_novelty."""
    from pydala2_spark.operators.curate import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(
        reference=docs.filter(F.col("doc_id") % 2 == 0),
        incoming=docs.filter(F.col("doc_id") % 2 == 1),
        k=5,
    )



def _idf_drift_oracle() -> str:
    from pydala2_spark.operators.curate import idf_drift_oracle_sql

    return idf_drift_oracle_sql(
        "SELECT text FROM documents WHERE doc_id % 2 = 0",
        "SELECT text FROM documents WHERE doc_id % 2 = 1",
    )



@query("doc_idf_drift", _idf_drift_oracle())
def doc_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF drift between document-corpus halves: per-term ln(N/df)
    shift over the shared vocabulary plus vocabulary churn counts —
    the retrieval-index maintenance readout (BM25/TF-IDF indexes
    score with FROZEN IDFs; this number says when ranking decay
    justifies a rebuild), next to doc_ngram_novelty's phrase-level
    view. Both sides reduce map-side to Heaps-bounded df tables; ONE
    shuffled hash full-outer join. See operators/curate.idf_drift."""
    from pydala2_spark.operators.curate import idf_drift

    docs = _t(spark, sf_dir, "documents")
    return idf_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _lexdiv_oracle() -> str:
    from pydala2_spark.operators.curate import lexical_diversity_oracle_sql

    return lexical_diversity_oracle_sql("source", "text", "documents")


@query("doc_lexical_diversity", _lexdiv_oracle())
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson lexical diversity + effective vocabulary +
    TTR — the corpus-mix health readout that catches a source going
    template-heavy (token mass concentrating into few types) while
    raw volume still looks fine; the aggregate sibling of
    doc_token_stats' per-document TTR and doc_zipf_fit's rank-slope
    view. Exact integer moments, two map-side-combined groupBys.
    See operators/curate.lexical_diversity."""
    from pydala2_spark.operators.curate import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"), "source")
