"""Embedding queries: ANN, clustering, drift, selection.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.queries._base import (
    _DEC,
    _davg,
    _oavg,
    _srp_bucket_sql,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



@query(
    "emb_dim_stats",
    """
    WITH e AS (
      SELECT unnest(range(0, len(embedding))) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ), q AS (
      SELECT dim, CAST(v AS DOUBLE) AS d,
             CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(19,6)) AS qv
      FROM e
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           count(*) AS n,
           round(CAST(sum(qv) AS DOUBLE) / count(*), 6) AS mean,
           round(sqrt(greatest(0.0,
             (CAST(sum(qv * qv) AS DOUBLE)
              - CAST(sum(qv) AS DOUBLE) * CAST(sum(qv) AS DOUBLE) / count(*))
             / count(*))), 6) AS std,
           round(min(d), 6) AS min_v,
           round(max(d), 6) AS max_v
    FROM q GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-coordinate profile of the embedding corpus (mean/std/min/max
    # per dimension) — one posexplode + one map-side-combining agg;
    # 6-decimal quantization + DECIMAL accumulation make the moments
    # order-independent so the oracle matches bit-for-bit. See
    # operators/similarity.dim_stats for the 100 TB notes.
    from pydala2_spark.operators.similarity import dim_stats

    return dim_stats(_t(spark, sf_dir, "embeddings"), "embedding")



def _emb_near_dup_oracle(label_conjunct: bool, threshold: float) -> str:
    """Shared oracle body for the embedding near-dup queries: SRP-bucket
    blocking (4 planes), optional label conjunct, unit-vector cosine —
    the same product chain the Spark scalar_dot evaluates, term for
    term, so the rounded values agree bit-for-bit."""
    bucket = _srp_bucket_sql(4)
    label_cond = "a.label = b.label AND " if label_conjunct else ""
    return f"""
    WITH u AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv,
             {bucket} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, 64),
                   i -> a.uv[i] * b.uv[i])), 4) AS cosine
    FROM u a JOIN u b
      ON {label_cond}a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(generate_series(1, 64),
            i -> a.uv[i] * b.uv[i])), 4) >= {threshold}
    """



@query("emb_near_dup", _emb_near_dup_oracle(label_conjunct=True, threshold=0.35))
def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # labeled corpus: label AND srp-bucket blocking (the conjunction —
    # label alone is the O(n²/labels) scale-killer the verdict flagged)
    from pydala2_spark.operators.dedup import embedding_near_duplicates

    return embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.35
    )



@query("emb_near_dup_srp", _emb_near_dup_oracle(label_conjunct=False, threshold=0.35))
def emb_near_dup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNLABELED corpus: pure SRP-bucket blocking — the default 100 TB
    # path. 2^planes data-distributed blocks, no metadata required, no
    # O(n²) block anywhere.
    from pydala2_spark.operators.dedup import embedding_near_duplicates

    return embedding_near_duplicates(_t(spark, sf_dir, "embeddings"), threshold=0.35)



# =====================================================================
# Similarity search
# =====================================================================


@query(
    "emb_knn_bruteforce",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4) AS cosine
      FROM embeddings c, embeddings q
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)



def _lsh_oracle() -> str:
    """Oracle for emb_knn_lsh — SRP buckets + unit-vector cosine."""
    bucket = _srp_bucket_sql(8)
    return f"""
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv,
             {bucket} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, uv AS qv, bucket FROM u WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> c.uv[i] * q.qv[i])), 4) AS cosine
      FROM u c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """



@query("emb_knn_lsh", _lsh_oracle())
def emb_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb, emb.filter(F.col("vec_id") < 10), k=5)



_IVF_ORACLE = """
    WITH x AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
    ), cent AS (
      SELECT label, pos,
             CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(v) AS m
      FROM x GROUP BY label, pos
    ), cvec AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), u AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, uv AS qv FROM u WHERE vec_id < 10
    ), routed AS (
      SELECT query_id, label, qv FROM (
        SELECT q.query_id, cvec.label, q.qv,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> q.qv[i] * cvec.centroid[i])) DESC,
                 cvec.label ASC) AS r
        FROM q CROSS JOIN cvec
      ) WHERE r <= 2
    ), scored AS (
      SELECT r.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> c.uv[i] * r.qv[i])), 4) AS cosine
      FROM routed r JOIN u c ON c.label = r.label
      WHERE c.vec_id <> r.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """



@query("emb_knn_ivf", _IVF_ORACLE)
def emb_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF routing: per-cell centroids as the coarse quantizer, exact
    # scan only inside nprobe routed cells — the partition-pruned ANN
    # path for a corpus physically laid out by cell.
    from pydala2_spark.operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2)



@query(
    "emb_quantize_error",
    f"""
    WITH q AS (
      SELECT label,
             list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
             greatest((list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                       - list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))) / 255.0,
                      1e-12) AS scale,
             embedding
      FROM embeddings
    ), e AS (
      SELECT label,
             sqrt(list_sum(list_transform(embedding,
                    x -> pow(CAST(x AS DOUBLE)
                             - (mn + round((CAST(x AS DOUBLE) - mn) / scale, 0) * scale), 2)))
                  / len(embedding)) AS rmse
      FROM q
    )
    SELECT label, count(*) AS n, {_oavg("rmse", 6)} AS avg_rmse
    FROM e GROUP BY label
    """,
)
def emb_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8 scalar quantization round-trip error per label: quantize →
    # dequantize → per-vector RMSE → order-independent decimal mean.
    # Proves the 4x-smaller store loses ~1/255 of the value range.
    from pydala2_spark.operators.similarity import dequantize_expr, quantize_embeddings

    emb = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    dq = dequantize_expr("q", "q_min", "q_scale")
    rmse = F.sqrt(
        F.expr(
            "aggregate(zip_with(embedding, __dq, (x, y) -> pow(cast(x as double) - y, 2)),"
            " 0D, (a, v) -> a + v)"
        )
        / F.size("embedding")
    )
    return (
        emb.withColumn("__dq", dq)
        .select("label", rmse.alias("rmse"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), _davg("rmse", 6).alias("avg_rmse"))
    )



_KMEANS_CTES = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid, v AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 4)
    ), a1 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, s.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))) ASC,
                 s.cid ASC) AS r
        FROM e CROSS JOIN seeds s
      ) WHERE r = 1
    ), m1 AS (
      SELECT cid, i AS pos,
             CAST(sum(CAST(v[i] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
      FROM a1, unnest(generate_series(1, 64)) AS g(i)
      GROUP BY cid, i
    ), c1 AS (
      SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid
    ), a2 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) ASC,
                 c1.cid ASC) AS r
        FROM e CROSS JOIN c1
      ) WHERE r = 1
    ), m2 AS (
      SELECT cid, i AS pos,
             CAST(sum(CAST(v[i] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
      FROM a2, unnest(generate_series(1, 64)) AS g(i)
      GROUP BY cid, i
    ), c2 AS (
      SELECT cid, list(m ORDER BY pos) AS c FROM m2 GROUP BY cid
    ), a3 AS (
      SELECT vec_id, cid, d FROM (
        SELECT e.vec_id, c2.cid,
               list_sum(list_transform(generate_series(1, 64),
                 i -> (e.v[i] - c2.c[i]) * (e.v[i] - c2.c[i]))) AS d,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> (e.v[i] - c2.c[i]) * (e.v[i] - c2.c[i]))) ASC,
                 c2.cid ASC) AS r
        FROM e CROSS JOIN c2
      ) WHERE r = 1
    )"""


_KMEANS_ORACLE = _KMEANS_CTES + """
    SELECT cid, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / count(*), 4)
             AS avg_sqdist
    FROM a3 GROUP BY cid
    """


# SemDeDup: the same 2-iteration k-means unroll, then a within-cell
# unit-cosine screen — lowest-id cellmate keeps, the rest flag as dups
_SEMANTIC_DEDUP_ORACLE = _KMEANS_CTES + """
    , u AS (
      SELECT vec_id,
             list_transform(v, x -> x
               / sqrt(list_sum(list_transform(v, y -> y * y)))) AS uv
      FROM e
    ), au AS (
      SELECT a3.vec_id, a3.cid, u.uv FROM a3 JOIN u USING (vec_id)
    ), p AS (
      SELECT b.vec_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> a.uv[i] * b.uv[i])), 4) AS cos
      FROM au a JOIN au b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ), d AS (
      SELECT vec_id, max(cos) AS max_cos FROM p WHERE cos >= 0.3
      GROUP BY vec_id
    )
    SELECT au.vec_id, au.cid,
           (d.vec_id IS NOT NULL) AS is_dup, d.max_cos
    FROM au LEFT JOIN d ON au.vec_id = d.vec_id
    """



@query("emb_kmeans", _KMEANS_ORACLE)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lloyd's k-means, 2 full iterations, k=4, deterministic smallest-id
    # seeds. The oracle unrolls both iterations as CTEs — an ITERATIVE
    # algorithm held to an exact SQL oracle: assignments, per-dim
    # decimal-accumulated centroid means, and final within-cluster
    # dispersion all match bit-for-bit. Spark shape: this corpus is
    # below DRIVER_VECTOR_BUDGET, so the cast frame is checkpointed
    # (its size observed in the same job), fetched once, and the fit
    # runs in numpy with the distributed loop's arithmetic; the
    # dispersion aggregate runs over the local assignments. See
    # operators/similarity.kmeans_lloyd for the distributed loop (a
    # scan-stage assignment projection and one k*dim-group aggregation
    # per iteration) that larger corpora run.
    from pydala2_spark.operators.similarity import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lloyd(emb, k=4, iters=2)
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("d").cast(_DEC)).cast("double") / F.count("d"), 4
        ).alias("avg_sqdist"),
    )



@query("emb_semantic_dedup", _SEMANTIC_DEDUP_ORACLE)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023) as a relational plan: k-means cells
    # block the corpus (scan-stage assignment, zero shuffle), exact
    # unit-cosine pairs WITHIN each cell, lowest-id keep rule. The
    # oracle composes the 2-iteration k-means CTE unroll with the
    # cell-blocked pair screen — per-vector verdicts AND max-cos
    # values are checked bit-for-bit. k is the blocking knob at scale
    # (cells ~10^3 → pair count linear in corpus); the k-means fit of
    # this small corpus runs on the driver. See
    # operators/dedup.semantic_dedup for the 100 TB notes.
    from pydala2_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.3
    )



@query(
    "emb_quantized_rerank",
    """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), qz AS (
      SELECT vec_id, v, list_min(v) AS mn,
             greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale
      FROM base
    ), dqv AS (
      SELECT vec_id,
             list_transform(v, x -> mn + round((x - mn) / scale, 0) * scale) AS dq
      FROM qz
    ), qu AS (
      SELECT vec_id AS query_id,
             list_transform(v, x -> x
               / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
      FROM base WHERE vec_id < 10
    ), approx AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> c.dq[i] * q.u[i]))
                   / sqrt(list_sum(list_transform(c.dq, y -> y * y))), 6)
               AS ascore
      FROM dqv c CROSS JOIN qu q
      WHERE c.vec_id <> q.query_id
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ascore DESC, neighbor_id ASC) AS r
        FROM approx
      ) WHERE r <= 20
    ), eu AS (
      SELECT vec_id,
             list_transform(v, x -> x
               / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
      FROM base
    ), ranked AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> e.u[i] * q.u[i])), 4) AS cosine,
             row_number() OVER (PARTITION BY c.query_id ORDER BY
               round(list_sum(list_transform(generate_series(1, 64),
                       i -> e.u[i] * q.u[i])), 4) DESC,
               c.neighbor_id ASC) AS rank
      FROM cand c
      JOIN eu e ON e.vec_id = c.neighbor_id
      JOIN qu q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def emb_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage retrieval: shortlist of 20 per query from the int8-
    # dequantized store (4x less scan I/O at 100 TB), exact re-rank of
    # the shortlist only — full-precision vectors are read for
    # |queries| * 20 rows via a broadcast id join. Stage-1 cut uses
    # round(ascore, 6) so the shortlist is oracle-stable.
    from pydala2_spark.operators.similarity import cosine_topk_rerank

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_rerank(
        emb, emb.filter(F.col("vec_id") < 10), k=5, shortlist=20
    )



def _kcenter_oracle() -> str:
    from pydala2_spark.operators.similarity import kcenter_oracle_sql

    return kcenter_oracle_sql(k=6)



@query("emb_kcenter_coreset", _kcenter_oracle())
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse-subset selection by greedy k-center (Gonzalez 1985):
    six maximally-spread exemplar embeddings — seed at min id, then
    repeatedly the point FARTHEST from every chosen center (smallest
    max-cosine, id tiebreak). The coreset/sampling primitive for
    eval-anchor and few-shot-pool selection, and the spread-first dual
    of semantic dedup (that removes close pairs; this KEEPS far
    points). The oracle replays the greedy loop as unrolled
    materialized CTEs, so all six selections and their
    max-cos-at-selection values must match exactly.

    Spark shape: this corpus is below DRIVER_VECTOR_BUDGET, so the
    unit frame is checkpointed (its size observed in the same job),
    fetched once, and the greedy picks run in numpy with Spark's
    arithmetic. Above the budget, each pick is one scan of the
    checkpoint (a literal-dot expression + a one-row
    TakeOrderedAndProject; no joins, the driver holds k vectors). See
    operators/similarity.kcenter_coreset."""
    from pydala2_spark.operators.similarity import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=6)



def _mmr_oracle() -> str:
    from pydala2_spark.operators.similarity import mmr_oracle_sql

    return mmr_oracle_sql(k=6, pool=40)



@query("emb_mmr_diversify", _mmr_oracle())
def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): top-6 diverse results for a query vector from a 40-item
    relevance pool — the RAG re-ranker that returns the best hit plus
    its complements instead of k near-duplicates. One corpus pass
    scores relevance (TakeOrderedAndProject pool), then the greedy
    loop runs on the pool-sized frame with chosen vectors inlined as
    literals (the kcenter discipline — zero joins, round-4 dots,
    0.7/0.3 literal weights, id tiebreaks); the oracle unrolls the
    same loop. See operators/similarity.mmr_select."""
    from pydala2_spark.operators.similarity import mmr_select

    return mmr_select(_t(spark, sf_dir, "embeddings"), k=6, pool=40)



_ANN_RECALL_ORACLE = """
    WITH u AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, uv AS qv FROM u WHERE vec_id < 10
    ), ex_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> c.uv[i] * q.qv[i])), 4) AS cosine
      FROM u c JOIN q ON c.vec_id <> q.query_id
    ), ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ex_scored
      ) WHERE rank <= 5
    ), x AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
    ), cent AS (
      SELECT label, pos,
             CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(v) AS m
      FROM x GROUP BY label, pos
    ), cvec AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), routed AS (
      SELECT query_id, label, qv FROM (
        SELECT q.query_id, cvec.label, q.qv,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> q.qv[i] * cvec.centroid[i])) DESC,
                 cvec.label ASC) AS r
        FROM q CROSS JOIN cvec
      ) WHERE r <= 2
    ), iv_scored AS (
      SELECT r.query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> c.uv[i] * r.qv[i])), 4) AS cosine
      FROM routed r JOIN u c ON c.label = r.label
      WHERE c.vec_id <> r.query_id
    ), iv AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM iv_scored
      ) WHERE rank <= 5
    )
    SELECT e.query_id, count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS recall
    FROM ex e LEFT JOIN iv a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """



@query("emb_ann_recall", _ANN_RECALL_ORACLE)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@5 of the IVF(nprobe=2)
    probe against the exact brute-force top-5 — the harness every ANN
    deployment needs before trusting an approximate index at scale
    (tune nprobe until measured recall clears the bar). Both paths
    reuse the production operators; the compare joins two
    |queries|*k-row frames — evaluation cost is probe-sized, never
    corpus-sized."""
    from pydala2_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, probes, k=5).select("query_id", "neighbor_id")
    approx = (
        cosine_topk_ivf(emb, probes, k=5, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    j = exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact"), 4
            ),
        )
    )



def _emb_drift_oracle() -> str:
    from pydala2_spark.operators.similarity import embedding_drift_oracle_sql

    return embedding_drift_oracle_sql()



@query("emb_centroid_drift", _emb_drift_oracle())
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between corpus halves (centroid
    L2 + cosine, per-half mean norms) — the production monitor that
    catches an encoder redeploy or normalization regression before
    the ANN index degrades. Two map-side-combined passes: scalar
    counts/norm sums in one, per-dim sums via posexplode + (half, dim)
    groupBy in the other — 4 codegen-friendly aggregate buffers per
    group. The 2d-wide-agg single-pass rewrite was tried in r11 and
    REVERTED with evidence: 132 aggregate buffers blow Janino's 64 KB
    method limit, costing 4-12 s of failed-compile-then-interpret to
    save ~nothing at 1000x (adjudication in the operator docstring
    and SCALING.md §r11). See operators/similarity.embedding_drift."""
    from pydala2_spark.operators.similarity import embedding_drift

    return embedding_drift(_t(spark, sf_dir, "embeddings"))



def _hard_neg_oracle() -> str:
    from pydala2_spark.operators.similarity import hard_negatives_oracle_sql

    return hard_negatives_oracle_sql()



@query("emb_hard_negatives", _hard_neg_oracle())
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (top-3 most-similar DIFFERENT-label
    vectors per probe, next to the hard positive and the margin) —
    the contrastive-training data miner on top of the ANN family.
    One broadcast scoring pass; ONE window ranks positives and
    negatives together via a conditional partition key
    (WindowGroupLimit bounds what crosses the exchange).
    See operators/similarity.hard_negatives."""
    from pydala2_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=3)



def _silhouette_oracle() -> str:
    from pydala2_spark.operators.similarity import silhouette_oracle_sql

    return silhouette_oracle_sql()



@query("emb_silhouette", _silhouette_oracle())
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified silhouette (distance to own centroid vs
    nearest other centroid) — the clustering-quality gate for the
    embedding column's label structure, next to emb_kmeans (fit) and
    emb_dim_stats (geometry). Centroids are exact decimal means;
    assignment is a scan-stage literal projection (broadcast-join
    fallback above the inline limit); one map-side-combined agg per
    label. See operators/similarity.silhouette_by_label."""
    from pydala2_spark.operators.similarity import silhouette_by_label

    return silhouette_by_label(_t(spark, sf_dir, "embeddings"))



def _lsh_multiprobe_oracle() -> str:
    """Oracle for emb_lsh_multiprobe: exact / single-probe / 1-flip
    multi-probe top-5 ranked identically, hits aggregated per query."""
    bucket = _srp_bucket_sql(8)
    masks = ", ".join(f"({m})" for m in [0] + [1 << p for p in range(8)])
    return f"""
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv,
             {bucket} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, uv AS qv, bucket FROM u WHERE vec_id < 10
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                       i -> c.uv[i] * q.qv[i])), 4) DESC, c.vec_id ASC)
                 AS rank
        FROM u c CROSS JOIN q WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 5
    ), single AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                       i -> c.uv[i] * q.qv[i])), 4) DESC, c.vec_id ASC)
                 AS rank
        FROM u c JOIN q ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 5
    ), qm AS (
      SELECT query_id, qv, xor(bucket, m.mask) AS bucket
      FROM q, (VALUES {masks}) AS m(mask)
    ), multi AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qm.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qm.query_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                       i -> c.uv[i] * qm.qv[i])), 4) DESC, c.vec_id ASC)
                 AS rank
        FROM u c JOIN qm ON c.bucket = qm.bucket
        WHERE c.vec_id <> qm.query_id
      ) WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(s.neighbor_id) AS BIGINT) AS hits_single,
           CAST(count(m.neighbor_id) AS BIGINT) AS hits_multi,
           round(CAST(count(s.neighbor_id) AS DOUBLE) / count(*), 4)
             AS recall_single,
           round(CAST(count(m.neighbor_id) AS DOUBLE) / count(*), 4)
             AS recall_multi
    FROM exact e
    LEFT JOIN single s USING (query_id, neighbor_id)
    LEFT JOIN multi m USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """



@query("emb_lsh_multiprobe", _lsh_multiprobe_oracle())
def emb_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH recall evaluation: per-query recall@5 of the
    single-bucket SRP probe vs the 1-flip multi-probe (query-side
    fan-out to the 8 Hamming-adjacent buckets) against the exact
    brute-force top-5 — MEASURING the standard recall lever instead
    of asserting it. Multi-probe costs |queries| x (planes+1)
    broadcast rows and never a second corpus pass; at 100 TB the
    corpus side still partitions by one bucket id per vector.
    See operators/similarity.cosine_topk_lsh(multi_probe=...)."""
    from pydala2_spark.operators.similarity import cosine_topk, cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, probes, k=5).select("query_id", "neighbor_id")
    single = (
        cosine_topk_lsh(emb, probes, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("__s", F.lit(1))
    )
    multi = (
        cosine_topk_lsh(emb, probes, k=5, multi_probe=1)
        .select("query_id", "neighbor_id")
        .withColumn("__m", F.lit(1))
    )
    j = exact.join(F.broadcast(single), ["query_id", "neighbor_id"], "left").join(
        F.broadcast(multi), ["query_id", "neighbor_id"], "left"
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce("__s", F.lit(0))).cast("long").alias("hits_single"),
            F.sum(F.coalesce("__m", F.lit(0))).cast("long").alias("hits_multi"),
        )
        .select(
            "query_id",
            "n_exact",
            "hits_single",
            "hits_multi",
            F.round(
                F.col("hits_single").cast("double") / F.col("n_exact"), 4
            ).alias("recall_single"),
            F.round(
                F.col("hits_multi").cast("double") / F.col("n_exact"), 4
            ).alias("recall_multi"),
        )
    )



_TRUNC_ORACLE = """
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding[1:16],
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS tv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, uv AS qv, tv AS qt FROM u
      WHERE vec_id < 10
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                       i -> c.uv[i] * q.qv[i])), 4) DESC, c.vec_id ASC)
                 AS rank
        FROM u c CROSS JOIN q WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 5
    ), trunc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 16),
                       i -> c.tv[i] * q.qt[i])), 4) DESC, c.vec_id ASC)
                 AS rank
        FROM u c CROSS JOIN q WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / count(*), 4)
             AS recall
    FROM exact e
    LEFT JOIN trunc t USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """



@query("emb_dim_truncation_eval", _TRUNC_ORACLE)
def emb_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation eval: recall@5 of cosine
    search over the FIRST 16 re-normalized dimensions against the full
    64-dim exact top-5 — the measurement behind "can we store/search
    a 4x smaller prefix of the embedding" (a 4x ANN-index shrink that
    complements emb_quantize_error's int8 answer). Both legs reuse
    cosine_topk; evaluation cost is probe-sized."""
    from pydala2_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, probes, k=5).select("query_id", "neighbor_id")
    sliced = emb.select("vec_id", F.expr("slice(embedding, 1, 16)").alias("emb16"))
    probes16 = sliced.filter(F.col("vec_id") < 10)
    trunc = (
        cosine_topk(sliced, probes16, k=5, vec_col="emb16")
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    j = exact.join(F.broadcast(trunc), ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hits").cast("double") / F.col("n_exact"), 4),
        )
    )



def _pair_cos_oracle() -> str:
    from pydala2_spark.operators.similarity import (
        pair_cosine_histogram_oracle_sql,
    )

    return pair_cosine_histogram_oracle_sql()



@query("emb_pair_cosine_hist", _pair_cos_oracle())
def emb_pair_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine distribution over deterministic id-stride vector pairs
    (strides 1/7/31 — the negative-sampling corruption scheme, no
    RNG) binned 0.1-wide — the isotropy / collapse screen an
    embedding corpus gets before ANN indexing: anisotropic spaces
    (mean cosine >> 0) break LSH bucketing and IVF balance. Unit
    vectors widen to scalar columns once (codegen dot chain, the
    near-dup discipline); pairs are equi-joins on id arithmetic.
    See operators/similarity.pair_cosine_histogram."""
    from pydala2_spark.operators.similarity import pair_cosine_histogram

    return pair_cosine_histogram(_t(spark, sf_dir, "embeddings"))
