"""Where an intermediate frame lives: the one materialization primitive.

Nothing else in the package calls ``localCheckpoint``, ``cache``,
``persist`` or ``unpersist`` (a test scans for it). Imports only
pyspark, so every operator imports it at module top.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the Spark jobs issued inside the block, then restore the
    caller's description (a bench's job group keeps its own)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def materialize(df: DataFrame, label: str | None = None) -> DataFrame:
    """Store ``df`` once so its plan is not recomputed.

    The rule: a frame is materialized only if at least one holds —

    - it has two or more consumers (self-join sides, several
      aggregates, a collect plus a returned frame): Catalyst emits no
      ReusedExchange across them, so each would rerun the subtree;
    - it is an iteration boundary: round k+1 reads round k's output,
      and without a cut the lineage and its analysis grow with k;
    - it must pin a snapshot: it is read after the code mutates its
      source (a merge appending to the files it matched). ``cache()``
      cannot pin one, because ``refreshByPath`` re-resolves a cached
      plan; that is why the primitive is a checkpoint.

    Calibration (interleaved A/B): a checkpoint pays when its output
    is small relative to its compute (reduced or aggregated frames,
    signature rows) and loses when it expands the input (exploded
    tokens) or when the recompute rides an existing checkpoint.

    Without ``label`` the checkpoint is lazy: no job of its own, the
    first consumer stores it (MEMORY_AND_DISK) and later ones read the
    copy. With ``label`` it is eager: one job now, described by
    ``label``, and the caller's description is restored afterwards.
    Unlike ``persist()``, which the cache manager pins until an
    explicit ``unpersist``, the ContextCleaner releases the blocks once
    the plan is garbage collected, so a materialized frame can be
    returned lazily and needs no lifecycle code.
    """
    if label is None:
        return df.localCheckpoint(eager=False)
    with job_description(df.sparkSession, label):
        return df.localCheckpoint()


def materialize_observed(
    df: DataFrame, label: str, **metrics: Column
) -> tuple[DataFrame, dict]:
    """Eager :func:`materialize` plus aggregate ``metrics`` (name ->
    aggregate expression) from the SAME job (an Observation on the
    checkpoint's scan): sizing costs no job."""
    obs = Observation()
    aggs = [c.alias(name) for name, c in metrics.items()]
    ck = materialize(df.observe(obs, *aggs), label)
    return ck, obs.get


def materialize_counted(df: DataFrame, label: str) -> tuple[DataFrame, int]:
    """Eager :func:`materialize` plus the row count from the same job."""
    ck, m = materialize_observed(df, label, n=F.count(F.lit(1)))
    return ck, m["n"]


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to session parallelism when the source arrives in
    fewer files than cores, so expensive per-row stages (hashing,
    tokenizing, vector math, Python decoders) do not serialize onto a
    handful of tasks. A many-file input already arrives spread: no-op.

    The probe is ``df.inputFiles()`` — metadata the scan has already
    listed — NOT ``df.rdd.getNumPartitions()``, which would force a
    physical plan + RDD conversion per call (a driver pause against a
    100 TB file index). A dataset stored as one splittable multi-GB
    file is repartitioned anyway; at scale datasets are many-file."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. createDataFrame)
        return df
    if 0 < nfiles < n:
        return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)
    return df
