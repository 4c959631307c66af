"""Near-duplicate detection: exact, MinHash-LSH, SimHash, blocked Jaccard, substring, clusters.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _app_scoped_tmp,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



# =====================================================================
# Near-duplicate detection (MinHash-LSH / SimHash / blocked Jaccard)
# =====================================================================


def _minhash_oracle(table_sql: str = "documents") -> str:
    """Oracle SQL for dedup_minhash_lsh, sharing the Spark operator's
    exact hash constants (one md5 per shingle + universal-hash family
    mod P — see operators/dedup.minhash_signature). ``table_sql`` must
    expose (doc_id, text); the default keeps the dedup_minhash_lsh
    oracle byte-identical."""
    from pydala2_spark.operators.dedup import MINHASH_P, _minhash_consts

    a_consts, b_consts = _minhash_consts(12)
    a_arr = "[" + ", ".join(str(a) for a in a_consts) + "]"
    b_arr = "[" + ", ".join(str(b) for b in b_consts) + "]"
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM {table_sql}
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM toks
    ), h0 AS (
      SELECT doc_id,
             list_transform(sh, s ->
               ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS h0
      FROM sh
    ), mh AS (
      SELECT doc_id,
             list_transform(generate_series(1, 12),
               h -> list_min(list_transform(h0, x ->
                 ({a_arr}[h] * x + {b_arr}[h]) % {MINHASH_P}))) AS mh
      FROM h0
    ), bands AS (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(mh, b * 3 + 1, b * 3 + 3), '|')) AS sig
      FROM mh, unnest(generate_series(0, 3)) AS u(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_intersect(sa.sh, sb.sh))
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
    FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
              JOIN sh sb ON cand.id_b = sb.doc_id
    WHERE len(list_intersect(sa.sh, sb.sh))
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """



@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)



_MINHASH_EVAL_CLONES = """(
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(list_slice(string_split(text, ' '), 2,
               len(string_split(text, ' '))), ' ') AS text
      FROM documents
      WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) >= 20
    )"""



def _minhash_eval_oracle() -> str:
    inner = _minhash_oracle(_MINHASH_EVAL_CLONES)
    return f"""
    WITH pairs AS ({inner}),
    planted AS (
      SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM documents
      WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) >= 20
    ), hit AS (
      SELECT count(*) AS n_detected
      FROM planted p JOIN pairs q ON p.id_a = q.id_a AND p.id_b = q.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_planted,
           CAST(hit.n_detected AS BIGINT) AS n_detected,
           round(CAST(hit.n_detected AS DOUBLE)
                 / (SELECT count(*) FROM planted), 4) AS recall,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs
    FROM hit
    """



@query("dedup_minhash_eval", _minhash_eval_oracle())
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-recall evaluation harness: plant a deterministic
    first-token-dropped clone of every 40th long document (shingle
    Jaccard >= ~0.9 by construction), run the production MinHash-LSH
    pipeline on the augmented corpus, and report how many planted
    pairs the banding actually caught — the measured-recall loop every
    probabilistic dedup deployment needs (the emb_ann_recall of the
    dedup family; 12 perms / 4 bands gives P(miss) = (1-J^3)^4, so
    recall should sit near 1.0 and any drop is a pipeline regression).
    Clone generation is scan-stage; everything else is the unchanged
    operator. See operators/dedup.minhash_lsh_pairs."""
    from pydala2_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn("__tk", F.split("text", " "))
    clone_src = base.filter(
        (F.col("doc_id") % 40 == 0) & (F.size("__tk") >= 20)
    )
    clones = clone_src.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.array_join(F.expr("slice(__tk, 2, size(__tk))"), " ").alias("text"),
    )
    pairs = minhash_lsh_pairs(docs.unionByName(clones), threshold=0.5)
    pairs = materialize(pairs, "dedup_minhash_eval: pairs")
    planted = clone_src.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(10_000_000)).alias("id_b"),
    )
    n_p = planted.agg(F.count(F.lit(1)).cast("long").alias("n_planted"))
    n_d = planted.join(pairs, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_detected")
    )
    n_t = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        n_p.crossJoin(F.broadcast(n_d))
        .crossJoin(F.broadcast(n_t))
        .select(
            "n_planted",
            "n_detected",
            F.round(
                F.col("n_detected").cast("double") / F.col("n_planted"), 4
            ).alias("recall"),
            "n_pairs",
        )
    )



@query(
    "dedup_ngram_blocked",
    """
    WITH t AS (
      SELECT doc_id, lang, n_chars // 25 AS lb,
             list_distinct(string_split(text, ' ')) AS tk,
             list_min(list_transform(list_distinct(string_split(text, ' ')),
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mb
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.tk, b.tk))
                 / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.lb = b.lb AND a.mb = b.mb AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.tk, b.tk))
          / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.5
    """,
)
def dedup_ngram_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)



@query(
    "dedup_clusters",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, n_chars // 25 AS lb,
             list_distinct(string_split(text, ' ')) AS tk,
             list_min(list_transform(list_distinct(string_split(text, ' ')),
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mb
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.lb = b.lb AND a.mb = b.mb AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.tk, b.tk))
            / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ), cc AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair-graph → connected components → (doc, cluster, size). The
    # oracle computes the same components with a recursive CTE
    # (min-reachable-id per node) — exactly the fixpoint the Spark
    # label propagation converges to.
    from pydala2_spark.operators.dedup import duplicate_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    return duplicate_clusters(pairs)



@query(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS th
      FROM documents, unnest(list_distinct(string_split(text, ' '))) AS u(t)
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (th >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM tok, unnest(generate_series(0, 47)) AS u(j)
      GROUP BY doc_id, j
    ), sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), chunked AS (
      SELECT doc_id, simhash, c,
             (simhash // CAST(pow(2, c * 12) AS BIGINT)) % 4096 AS v
      FROM sh, unnest(generate_series(0, 3)) AS u(c)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunked a JOIN chunked b
        ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydala2_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)



@query(
    "dedup_keep_best",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, n_chars // 25 AS lb,
             list_distinct(string_split(text, ' ')) AS tk
      FROM documents
    ), tt AS (
      SELECT doc_id, lang, lb, tk,
             list_min(list_transform(tk,
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mb
      FROM t
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tt a JOIN tt b
        ON a.lang = b.lang AND a.lb = b.lb AND a.mb = b.mb AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.tk, b.tk))
            / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ), cc AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    ), rep AS (
      SELECT cluster_id, doc_id AS canon FROM (
        SELECT cc.cluster_id, cc.doc_id,
               row_number() OVER (
                 PARTITION BY cc.cluster_id
                 ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rn
        FROM cc JOIN documents d ON cc.doc_id = d.doc_id)
      WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(r.canon, d.doc_id) AS canonical_id,
           coalesce(r.canon, d.doc_id) = d.doc_id AS is_kept
    FROM documents d
    LEFT JOIN cc ON d.doc_id = cc.doc_id
    LEFT JOIN rep r ON cc.cluster_id = r.cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The disposition step AFTER near-dup clustering: each document
    maps to its cluster's canonical representative — highest n_chars,
    ties to the smallest id — and singletons keep themselves.
    ``is_kept`` filters to the deduplicated corpus while KEEPING the
    best version of each duplicate group (min-id dedup keeps an
    arbitrary one). The oracle recomputes the same clusters with a
    recursive CTE and the same (quality DESC, id ASC) argmax.

    100 TB: representative selection is a ``max_by`` struct aggregate
    (map-side combined — no per-cluster window, so a boilerplate
    mega-cluster cannot stall one task), then two id-keyed narrow
    joins; text never shuffles. See operators/dedup.canonicalize_clusters."""
    from pydala2_spark.operators.dedup import (
        canonicalize_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return canonicalize_clusters(docs, pairs)



@query(
    "dedup_containment",
    """
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
                 generate_series(1, len(tk) - 2),
                 i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS tk
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
            FROM documents)
      WHERE len(tk) >= 3
    ), tt AS (
      SELECT doc_id, lang, tk, len(tk) AS n,
             list_min(list_transform(tk,
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mh
      FROM t
    ), bh AS (
      SELECT doc_id, lang, n,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM tt, unnest(tk) AS u(tok)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n AS n_a, b.n AS n_b
      FROM tt a JOIN bh b
        ON a.lang = b.lang AND a.mh = b.h
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
    ), pairs AS (
      SELECT c.id_a, c.id_b, c.n_a, c.n_b,
             round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                   / CAST(c.n_a AS DOUBLE), 6) AS containment
      FROM cand c
      JOIN t ta ON c.id_a = ta.doc_id
      JOIN t tb ON c.id_b = tb.doc_id
      WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                  / CAST(c.n_a AS DOUBLE), 6) >= 0.8
    )
    SELECT id_a, CAST(count(*) AS BIGINT) AS n_containers,
           max_containment, best_container, n_a, best_n_b
    FROM pairs
    JOIN (
      SELECT id_a AS k_,
             max(containment) AS max_containment,
             min(CASE WHEN rnk = 1 THEN id_b END) AS best_container,
             min(CASE WHEN rnk = 1 THEN n_b END) AS best_n_b
      FROM (SELECT *, row_number() OVER (
              PARTITION BY id_a
              ORDER BY containment DESC, id_b ASC) AS rnk
            FROM pairs)
      GROUP BY id_a
    ) b ON pairs.id_a = b.k_
    GROUP BY id_a, max_containment, best_container, n_a, best_n_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET detection by 3-token SHINGLE containment |A∩B|/|A|
    — the asymmetric duplication the Jaccard family structurally
    misses: a short document embedded verbatim in a long one (quote,
    chunk-vs-source, doc+wrapper) has tiny Jaccard but containment
    ~1. Shingles, not bare tokens: token-set containment degenerates
    to all-pairs density on a small shared vocabulary (measured: the
    token form emitted 25k pairs from 500 synthetic docs and went
    22x-superlinear at 10x; the phrase-level form stays sparse and
    sublinear). Candidates via A's minimum shingle hash occurring
    among B's hashes (probability 1 for true subsets, >= c at
    containment c — the Broder single-band model), verified exactly
    at threshold 0.8, then folded to ONE disposition row per
    contained doc: how many containers, the best
    one (max containment, ties to min id — a max_by struct aggregate,
    no per-doc window), and its size. Output is |docs|-bounded even
    on a word-soup corpus where raw pairs explode.

    100 TB shape: join keys are (lang, 60-bit hash) only — text never
    shuffles; token arrays re-attach to surviving pairs by id. Both
    engines threshold the ROUNDED containment (one int division), so
    the boundary cannot flake — oracle bit-exact.
    See operators/dedup.containment_pairs."""
    from pydala2_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(docs, threshold=0.8)
    best = F.max_by(
        F.struct(
            F.col("id_b").alias("b"), F.col("n_b").alias("nb")
        ),
        F.struct(F.col("containment").alias("c"), (-F.col("id_b")).alias("t")),
    )
    return pairs.groupBy("id_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_containers"),
        F.max("containment").alias("max_containment"),
        best.getField("b").alias("best_container"),
        F.max("n_a").alias("n_a"),
        best.getField("nb").alias("best_n_b"),
    ).select(
        "id_a",
        "n_containers",
        "max_containment",
        "best_container",
        "n_a",
        "best_n_b",
    )



def _exact_substr_oracle() -> str:
    from pydala2_spark.operators.dedup import exact_substring_oracle_sql

    return exact_substring_oracle_sql(
        "SELECT doc_id, text FROM documents", k=8
    )



@query("dedup_exact_substr", _exact_substr_oracle())
def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022) as matched PAIRS: one row
    per MAXIMAL cross-document exact token run of >= 8 tokens, at any
    alignment — (id_a, id_b, pos_a, pos_b, match_len). The family's
    remaining gap before this query: doc_substring_spans reports each
    document's duplicated intervals but not WHO matches whom or the
    true pairwise extents, and the fixed-grid/shingle-set screens miss
    unaligned long repeats entirely. Suffix-array adjacency becomes a
    sorted-anchor equi-join (8-token md5 anchors), LEFT-MAXIMAL pairs
    only (each run generated once, at its start), then extend-and-
    verify by direct token comparison — md5 is only a router, results
    are exact even under collisions. Oracle mirrors anchor, pairing
    and extension integer/token-exact.
    See operators/dedup.exact_substring_matches for 100 TB notes."""
    from pydala2_spark.operators.dedup import exact_substring_matches

    return exact_substring_matches(_t(spark, sf_dir, "documents"), k=8)



def _exact_substr_removal_oracle() -> str:
    from pydala2_spark.operators.dedup import (
        exact_substring_removal_oracle_sql,
    )

    inner = exact_substring_removal_oracle_sql(
        "SELECT doc_id, text FROM documents", k=8
    )
    return (
        f"SELECT doc_id, n_tokens, n_removed, md5(clean_text) AS clean_md5 "
        f"FROM ({inner})"
    )



@query("dedup_exact_substr_removal", _exact_substr_removal_oracle())
def dedup_exact_substr_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETION step of ExactSubstr dedup (Lee et al. 2022): every
    cross-document duplicated run of >= 8 tokens is cut from all
    documents except the minimum-doc_id canonical copy, and the
    rewritten corpus comes back — the transform a training pipeline
    actually applies, where dedup_exact_substr reports the evidence.
    One row per input document with before/after token accounting;
    clean_text is md5'd so the oracle compares full rewritten bodies
    without shipping them. See operators/dedup.remove_exact_substrings
    for semantics (shingle ownership, one surviving copy) and 100 TB
    notes."""
    from pydala2_spark.operators.dedup import remove_exact_substrings

    return remove_exact_substrings(
        _t(spark, sf_dir, "documents"), k=8
    ).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )



def _band_tuning_oracle() -> str:
    from pydala2_spark.operators.dedup import lsh_band_tuning_oracle_sql

    return lsh_band_tuning_oracle_sql()



@query("dedup_band_tuning", _band_tuning_oracle())
def dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band-configuration tuning readout: exact 3-gram
    Jaccard over deterministic id-stride doc pairs, then the analytic
    S-curve P(candidate) = 1-(1-j^r)^b per (bands, rows) config —
    expected recall on true near-dup pairs vs expected
    false-candidate rate on noise pairs, measured from THIS corpus's
    similarity distribution (the b/r choice the 12-perm/4-band
    default hand-waves). Integer-exponent multiplication chains, no
    pow(). See operators/dedup.lsh_band_tuning."""
    from pydala2_spark.operators.dedup import lsh_band_tuning

    return lsh_band_tuning(_t(spark, sf_dir, "documents"))



_INCR_INC_SQL = """(
      SELECT doc_id + 20000000 AS doc_id, text FROM documents
      WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(list_slice(string_split(text, ' '), 2,
               len(string_split(text, ' '))), ' ') AS text
      FROM documents
      WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) >= 20
    )"""



def _incr_dedup_oracle() -> str:
    from pydala2_spark.operators.dedup import MINHASH_P, _minhash_consts

    a_consts, b_consts = _minhash_consts(12)
    a_arr = "[" + ", ".join(str(a) for a in a_consts) + "]"
    b_arr = "[" + ", ".join(str(b) for b in b_consts) + "]"

    def sig_cte(name: str, src: str) -> str:
        return f"""{name}_sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM {src})
    ), {name}_mh AS MATERIALIZED (
      SELECT doc_id,
             list_transform(generate_series(1, 12),
               h -> list_min(list_transform(
                 list_transform(sh, s ->
                   ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}),
                 x -> ({a_arr}[h] * x + {b_arr}[h]) % {MINHASH_P}))) AS mh
      FROM {name}_sh
    ), {name}_bands AS MATERIALIZED (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(mh, b * 3 + 1, b * 3 + 3),
                 '|')) AS sig
      FROM {name}_mh, unnest(generate_series(0, 3)) AS u(b)
    )"""

    return f"""
    WITH inc AS MATERIALIZED ({_INCR_INC_SQL}),
    refh AS (
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ), exact AS (
      SELECT i.doc_id, refh.n
      FROM inc i LEFT JOIN refh ON md5(i.text) = refh.h
    ),
    {sig_cte("r", "documents")},
    {sig_cte("i", "inc")},
    cand AS MATERIALIZED (
      SELECT DISTINCT r.doc_id AS cid, i.doc_id AS nid
      FROM r_bands r JOIN i_bands i ON r.b = i.b AND r.sig = i.sig
    ), est AS (
      SELECT cand.cid, cand.nid,
             round(list_sum(list_transform(generate_series(1, 12),
                     h -> CASE WHEN rm.mh[h] = im.mh[h]
                               THEN 1 ELSE 0 END)) / 12.0, 4) AS e
      FROM cand
      JOIN r_mh rm ON rm.doc_id = cand.cid
      JOIN i_mh im ON im.doc_id = cand.nid
    ), near AS (
      SELECT nid, CAST(count(DISTINCT cid) AS BIGINT) AS n
      FROM est WHERE e >= 0.5 GROUP BY nid
    )
    SELECT e.doc_id,
           CASE WHEN e.n IS NOT NULL THEN 'exact'
                WHEN near.n IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           CAST(coalesce(e.n, near.n, 0) AS BIGINT) AS n_matches
    FROM exact e LEFT JOIN near ON near.nid = e.doc_id
    """



@query("dedup_incremental_screen", _incr_dedup_oracle())
def dedup_incremental_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental dedup: build the persisted MinHash index
    over the document corpus IN-QUERY (proof-by-construction, the
    zorder/substring-search pattern), then screen a synthetic ingest
    batch — every 50th doc verbatim (must flag exact) plus the
    first-token-dropped clone of every 40th long doc (must flag near
    via banding) — and emit per-doc verdicts. This drives the
    build_minhash_index / incremental_near_dups pair (previously
    pytest-only) through the oracle gate: the daily-crawl-vs-corpus
    screen a continuously growing training set runs, where corpus
    TEXT is read once ever and each ingest pays O(batch).
    See operators/dedup.incremental_dedup_screen."""
    from pydala2_spark.operators.dedup import incremental_dedup_screen

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    verbatim = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text"
    )
    base = docs.withColumn("__tk", F.split("text", " "))
    clones = base.filter(
        (F.col("doc_id") % 40 == 0) & (F.size("__tk") >= 20)
    ).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.array_join(F.expr("slice(__tk, 2, size(__tk))"), " ").alias("text"),
    )
    incoming = verbatim.unionByName(clones)
    path = _app_scoped_tmp(spark, sf_dir, "pydala2_spark_mhidx")
    return incremental_dedup_screen(
        spark, docs, incoming, f"{path}/idx", threshold=0.5
    )
