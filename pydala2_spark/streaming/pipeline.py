"""Structured Streaming extension — incremental versions of the batch
operators.

The reference has NO streaming (verified absence in
`/root/reference/pydala/` — closest is incremental batch append +
`compact_by_timeperiod`, `pydala/dataset.py:2268-2347`). This module is
the Spark-native extension the task calls for: the same rollups the
batch engine runs, expressed over an unbounded file source so a landing
zone of parquet drops becomes an incrementally maintained aggregate.

Scale design:
- file source + ``availableNow`` trigger = incremental batch: each run
  processes only files newer than the checkpoint — the streaming
  equivalent of the reference's append-then-compact lifecycle, and the
  pattern that survives a 100 TB landing zone (no re-listing of
  processed files; ``maxFilesPerTrigger`` bounds per-batch size);
- watermarks bound state: the hourly rollup keeps only windows newer
  than (max event time - delay), so state size is O(active windows),
  not O(history);
- sessionization uses ``applyInPandasWithState`` — the custom stateful
  operator escape hatch — with per-user state and event-time timeout.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pydala2_spark.frames import materialize, materialize_counted


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", ts_type),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _sniff_ts_type(sample_file: str | None) -> T.DataType:
    """One driver-side footer read decides the ``ts`` physical encoding
    (the corpus has shipped both TIMESTAMP(NANOS) → read-as-long and
    TIMESTAMP(MICROS, ntz)). Streaming sources need the schema up
    front, so this mirrors testdata._fix_event_ts's dynamic branch.

    TIMESTAMP(NANOS) must map to LongType even though pyarrow reports
    it as a timestamp: the session's ``nanosAsLong`` conf makes the
    scan deliver int64 nanos, and a TIMESTAMP_NTZ user schema would
    conflict at the first microbatch. When no sample is readable
    (remote landing zone, empty dir) the default is TIMESTAMP_NTZ
    micros — today's encoding; a legacy ns-encoded remote zone needs
    an explicit local sample."""
    if sample_file:
        try:
            import pyarrow.parquet as pq
            import pyarrow as pa

            t = pq.read_schema(sample_file).field("ts").type
            if pa.types.is_timestamp(t):
                if t.unit == "ns":
                    return T.LongType()  # nanosAsLong reads ns as int64
                return T.TimestampNTZType() if t.tz is None else T.TimestampType()
            if pa.types.is_integer(t):
                return T.LongType()
        except Exception:
            pass
    return T.TimestampNTZType()


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    ts_type: T.DataType | None = None,
) -> DataFrame:
    """Unbounded reader over a parquet landing zone of events.

    ``ts_type`` overrides the sniffed ``ts`` physical encoding — pass
    ``LongType()`` for a legacy ns-encoded REMOTE landing zone where no
    local sample file exists for the sniff (its no-sample default is
    TIMESTAMP_NTZ micros, which would fail a ns zone's first microbatch
    with a schema conflict)."""
    # the streaming file source wants a directory; accept a single-file
    # path by listing its parent with a glob filter
    import os

    glob = sample = None
    if path.endswith(".parquet") and os.path.isfile(path):
        glob, sample = os.path.basename(path), path
        path = os.path.dirname(path)
    elif os.path.isdir(path):
        pq_files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        sample = os.path.join(path, pq_files[0]) if pq_files else None

    ts_type = ts_type if ts_type is not None else _sniff_ts_type(sample)
    reader = spark.readStream.schema(_events_schema(ts_type))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch ``ev_hourly_rollup`` query: tumbling
    1-hour windows per event_type, late data admitted up to the
    watermark, then state dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation → arrival-order independent (the
            # incremental state updates in a different order than a batch
            # scan; double sums would drift at the last ulp)
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000


def _session_fn(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer: counts sessions split by >30 min gaps,
    carrying (n_sessions, n_events, last_ts) across micro-batches."""
    if state.exists:
        n_sessions, n_events, last_ts = state.get
    else:
        n_sessions, n_events, last_ts = 0, 0, None
    for pdf in batches:
        ts_us = (pdf["ts"].astype("int64") // 1000).sort_values()
        for t in ts_us:
            if last_ts is None or t - last_ts > SESSION_GAP_US:
                n_sessions += 1
            last_ts = int(t)
            n_events += 1
    state.update((n_sessions, n_events, last_ts))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user session counting via
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``ev_sessionization`` query. State is one tiny tuple per user."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each key,
    dropping repeats that arrive within the watermark horizon.

    State is one entry per key, expired by the watermark — the
    incremental twin of ``drop_exact_duplicates``. At 100 TB/day this
    is the standard exactly-once ingest guard in front of an
    append-only corpus (duplicate deliveries, retried uploads)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    state_partitions: int | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Drain all currently-available input (availableNow) into an
    in-memory table and return it as a DataFrame — the test/debug sink.
    Production sinks swap ``format`` for parquet/kafka and keep the
    same checkpoint discipline.

    ``state_partitions`` pins the state-store partition count for this
    query (it is frozen into the checkpoint at first run). Streaming
    aggs don't get AQE coalescing, so every micro-batch pays one state
    file per partition per store — size it to expected state volume,
    not to the session's batch shuffle setting.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(query_name)


def merge_stream(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    key_columns: list[str],
    checkpoint_dir: str,
    strategy: str = "upsert",
    partition_by: list[str] | None = None,
    ts_type: T.DataType | None = None,
) -> None:
    """Streaming keyed merge: drain the landing zone and merge each
    microbatch into a managed dataset — the CDC-ingestion loop the
    reference can only do as a manual batch ``merge`` per drop
    (`pydala/dataset.py:1549-1777`); here the checkpoint tracks input
    files and the sink is guarded by a per-batch marker, giving
    effectively-once results: ``foreachBatch`` alone is AT-LEAST-once
    (a crash between the merge and the checkpoint commit replays the
    batch), so ``_sink`` records each committed batch id under
    ``<target>/_stream_batches/`` and a replayed batch that already
    left its marker is skipped instead of re-merged. Upsert re-merge
    is idempotent anyway; the marker is what makes non-idempotent
    strategies (e.g. ``insert``) safe across replays.

    ``foreachBatch`` is the right sink because merge is a multi-job
    write (plan, rewrite matched files, delete replaced) that Spark's
    declarative sinks can't express. Within a microbatch the merge's
    last-row-wins dedup resolves duplicate keys; across microbatches
    the usual merge semantics apply in arrival order. At scale the
    per-batch cost is proportional to the files whose key ranges the
    batch touches (file-selective rewrite), not the dataset size.
    """
    import hashlib

    from pydala2_spark.operators.merge import merge
    from pydala2_spark.plans.fs import mkdirs, path_exists

    events = read_event_stream(spark, source_path, ts_type=ts_type)
    # batch ids restart per checkpoint — scope markers to this one
    cp_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"{target_path.rstrip('/')}/_stream_batches/{cp_id}/{batch_id}"
        if path_exists(spark, marker):
            return  # replay of a batch whose merge already committed
        if not batch_df.isEmpty():
            merge(
                spark,
                target_path,
                batch_df,
                strategy=strategy,
                key_columns=key_columns,
                partition_by=partition_by,
            )
        mkdirs(spark, marker)

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def snapshot_stream(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    checkpoint_dir: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    ts_type: T.DataType | None = None,
    commit_publisher=None,
) -> None:
    """Stream → snapshot-versioned dataset: each microbatch lands as
    one atomic manifest commit (plans/snapshots.py), so downstream
    readers either see a whole batch or none of it, and can time-travel
    the ingest history version by version.

    Exactly-once WITHOUT side markers: the manifest itself records
    ``(checkpoint, batch_id)``, so the commit and its dedup record are
    published in the same atomic rename — no window where the data is
    committed but the marker is not (the gap ``merge_stream``'s
    separate marker directory has to close by ordering). A replayed
    batch finds its id at-or-below ``last_stream_batch`` and skips;
    the probe reverse-scans to the newest manifest for this
    checkpoint, O(1) manifests in steady state.
    """
    import hashlib

    from pydala2_spark.plans.snapshots import SnapshotDataset

    events = read_event_stream(spark, source_path, ts_type=ts_type)
    cp_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # commit_publisher: required for object-store targets — the
        # snapshot layer refuses the racy rename lock there; for_path
        # drops it on local/HDFS targets where rename is already atomic
        ds = SnapshotDataset.for_path(
            spark, target_path, commit_publisher=commit_publisher
        )
        last = ds.last_stream_batch(cp_id)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        ds.commit(
            batch_df,
            mode=mode,
            partition_by=partition_by,
            extra={"stream": {"checkpoint": cp_id, "batch_id": batch_id}},
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_append_rollup(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> None:
    """End-to-end incremental pipeline: landing zone → hourly rollup →
    parquet sink, exactly-once per file via the checkpoint. Re-running
    after new files land processes only the new files — the streaming
    replacement for the reference's append + compact_by_timeperiod
    maintenance loop."""
    events = read_event_stream(spark, source_path)
    rollup = hourly_rollup_stream(events, watermark=watermark)
    q = (
        rollup.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def scd2_stream(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    key_columns: list[str],
    checkpoint_dir: str,
    tracked: list[str] | None = None,
    order_by: list[str] | None = None,
    ts_type: T.DataType | None = None,
) -> None:
    """Streaming CDC → SCD2 dimension history: each microbatch of
    current attribute values applies as one history-keeping merge
    (`operators/merge.merge_scd2`) — changed keys close their open row
    and reopen, new keys insert, and the target accumulates full
    version history queryable with `valid_from`/`valid_to`.

    The version clock is derived from the TARGET — each batch applies
    at ``max(valid_from) + 1`` — so it is monotone across checkpoint
    relocations and losses (a per-checkpoint batch id would restart at
    0 and corrupt existing history). No marker guard is needed: a
    replayed availableNow batch re-reads the full landing zone, whose
    last-write-wins values per key equal what the history already
    holds, so re-application is a no-op (nothing changed → empty
    delta → no new version rows). Within a batch, duplicate keys
    resolve by ``order_by`` (DESCENDING — e.g. ``["ts", "event_id"]``
    picks the newest event deterministically); without it, arrival
    order decides, which is file-listing order, NOT event time.

    File-selectivity comes from the underlying upsert: only files
    holding changed keys' open rows rewrite.
    """
    from pydala2_spark.operators.merge import merge_scd2
    from pydala2_spark.plans.fs import list_files, path_exists

    events = read_event_stream(spark, source_path, ts_type=ts_type)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if order_by:
            from pyspark.sql import Window

            w = Window.partitionBy(*key_columns).orderBy(
                *[F.col(c).desc() for c in order_by]
            )
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        exists = path_exists(spark, target_path) and bool(
            list_files(spark, target_path)
        )
        if exists:
            head = (
                spark.read.parquet(target_path)
                .agg(F.max("valid_from").alias("m"))
                .first()["m"]
            )
            ts = int(head) + 1 if head is not None else 0
        else:
            ts = 0
        merge_scd2(
            spark,
            target_path,
            batch_df,
            key_columns=key_columns,
            ts=ts,
            tracked=tracked,
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def curate_stream(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    index_path: str,
    checkpoint_dir: str,
    min_quality: float = 0.3,
    jaccard_threshold: float = 0.5,
    text: str = "text",
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming corpus curation — the batch curation gates applied AT
    INGEST: each microbatch of documents passes the quality floor,
    batch-internal exact dedup, and the MinHash near-dup screen
    against the PERSISTED signature index (`dedup.build_minhash_index`)
    before appending; the index then absorbs the survivors'
    signatures, so later batches screen against everything ingested so
    far. The streaming form of `curate.curate_corpus` — corpus text is
    read once ever (per `incremental_near_dups`); each batch pays
    O(batch) hashing plus id-scale joins.

    Exactly-once is BY CONSTRUCTION, not by marker ordering: survivors
    anti-join the target's existing ids (and the index's signature
    ids) before any write, so a replayed batch — after a crash in any
    window between the appends and the checkpoint commit — re-selects
    zero rows. Commit order is target → bands → SIGNATURES: a doc's
    signature row is the index commit point, so a replay finds any
    partially-indexed doc (in target, not in signatures) and
    re-derives BOTH its band and signature rows from the replayed
    batch text (hashing is deterministic); a duplicate band row from
    the bands-then-crash window is harmless (the probe's candidate
    set is distinct). The `_stream_batches` marker is a fast-path
    skip only. Intra-batch NEAR-dups (two new near-copies arriving in
    the same microbatch) both pass by design — the index screen sees
    them only after the batch lands; the periodic batch
    `curate_corpus` pass catches that tail. Returns ingest counters
    (``batches`` counts every batch examined, including fast-path
    skips).

    Requires an existing index (build_minhash_index over the seed
    corpus, possibly empty); the target may start absent. The id
    column comes from the index's stored ``_params`` (the hash family
    and the id keying must agree with the build).
    """
    import hashlib

    from pyspark.sql import Window

    from pydala2_spark.functions.text import quality_score
    from pydala2_spark.operators.dedup import (
        incremental_near_dups,
        lsh_band_signatures,
        minhash_signature,
    )
    from pydala2_spark.plans.fs import list_files, mkdirs, path_exists

    params = spark.read.parquet(f"{index_path}/_params").first()
    id_col = params["id_col"]
    schema = spark.read.parquet(source_path).schema
    if id_col not in schema.names:
        raise ValueError(
            f"index at {index_path!r} keys on {id_col!r}, which the "
            f"source documents do not carry (columns: {schema.names})"
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # ingest batch sizing: bounds per-microbatch memory and makes
        # the availableNow drain process in multiple batches (the
        # continuous-ingest shape) instead of one corpus-sized batch
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(source_path)
    cp_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    counters = {"batches": 0, "ingested": 0, "screened": 0}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        counters["batches"] += 1
        marker = f"{target_path.rstrip('/')}/_stream_batches/{cp_id}/{batch_id}"
        if path_exists(spark, marker):
            return  # fast path: this batch fully committed earlier
        n_in = batch_df.count()
        if n_in:
            # 1) quality floor + batch-internal exact dedup (lowest id
            #    of each identical text survives — deterministic)
            w = Window.partitionBy(F.md5(F.col(text))).orderBy(F.col(id_col).asc())
            gated = (
                batch_df.filter(quality_score(text) >= min_quality)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            # 2) replay/idempotence gate: ids already in the target (or
            #    indexed) never re-ingest — id-scale anti-joins. A doc
            #    in the TARGET but missing from the SIGNATURES is the
            #    crash window between the appends: backfill its index
            #    rows without re-appending its data.
            idx_ids = spark.read.parquet(f"{index_path}/signatures").select(id_col)
            backfill = gated.limit(0)
            if path_exists(spark, target_path) and list_files(spark, target_path):
                tgt_ids = spark.read.parquet(target_path).select(id_col)
                backfill = gated.join(tgt_ids, id_col, "left_semi").join(
                    idx_ids, id_col, "left_anti"
                )
                gated = gated.join(tgt_ids, id_col, "left_anti")
            gated = gated.join(idx_ids, id_col, "left_anti")
            # 3) near-dup screen vs the signature index (subsumes
            #    exact-vs-corpus: an exact copy estimates jaccard 1.0).
            #    Batch signatures compute ONCE and are shared between
            #    the screen and the index append.
            mh_gated = materialize(
                minhash_signature(gated, text, id_col, params["num_hashes"], params["k"])
            )
            dup_ids = (
                incremental_near_dups(
                    spark,
                    index_path,
                    gated,
                    text=text,
                    threshold=jaccard_threshold,
                    new_mh=mh_gated,
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            # both pin a snapshot: the appends below change the target
            # and the index that ``gated`` and ``backfill`` read
            survivors, n_keep = materialize_counted(
                gated.join(dup_ids, id_col, "left_anti"), "curate_stream: survivors"
            )
            new_mh = materialize(
                mh_gated.join(survivors.select(id_col), id_col, "left_semi").unionByName(
                    minhash_signature(
                        backfill, text, id_col, params["num_hashes"], params["k"]
                    )
                ),
                "curate_stream: new signatures",
            )
            if not new_mh.isEmpty():
                if n_keep:
                    survivors.write.mode("append").parquet(target_path)
                # bands BEFORE signatures: the signature row is the
                # index commit point the backfill gate keys on
                (
                    lsh_band_signatures(
                        new_mh,
                        id_col,
                        params["bands"],
                        params["num_hashes"] // params["bands"],
                    )
                    .write.mode("append")
                    .partitionBy("band")
                    .parquet(f"{index_path}/bands")
                )
                new_mh.write.mode("append").parquet(f"{index_path}/signatures")
            counters["ingested"] += n_keep
            counters["screened"] += n_in - n_keep
        mkdirs(spark, marker)

    q = (
        docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counters


def cms_stream(
    events: DataFrame,
    value_col: str = "user_id",
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Streaming Count-Min maintenance: the arriving stream folds into
    the depth x width counter table through a plain streaming
    aggregation — the canonical "sketch the firehose" pattern. Because
    counter addition is associative and the KEY SPACE is bounded by
    construction (at most depth*width state rows, FOREVER), this needs
    no watermark and never grows state with traffic — the property
    that makes sketches the streaming answer to frequency/heavy-hitter
    questions at any scale. Drain with ``output_mode='complete'`` so
    the sink holds the full current table; the result equals
    functions/sketch.cms_build over the same rows bit-for-bit.
    """
    from pydala2_spark.functions.sketch import cms_bucket

    rows = F.array(*[F.lit(j) for j in range(depth)])
    return (
        events.select(
            F.explode(rows).alias("row_id"), F.col(value_col).alias("__v")
        )
        .select("row_id", cms_bucket(F.col("row_id"), F.col("__v"), width).alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hll_stream(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    p: int = 7,
) -> DataFrame:
    """Streaming HyperLogLog maintenance: the arriving stream folds
    into per-(group, register) max-rho state through a plain streaming
    aggregation — max is algebraic and the key space is bounded at
    |groups| x 2^p rows FOREVER, so (like :func:`cms_stream`) no
    watermark is needed and state never grows with traffic. Drain with
    ``output_mode='complete'``; fold the drained registers through
    ``functions.sketch.hll_estimate_from_registers`` and the estimate
    equals the batch ``hll_count_distinct`` bit-for-bit. The streaming
    answer to "distinct users so far, per key" at any scale.
    """
    from pydala2_spark.functions.sketch import hash60, leading_zero_rank

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    bits = 60 - p
    h = hash60(F.col(value_col))
    return (
        # same NULL rule as the batch forms: a NULL value is not a
        # distinct value and must not mint a NULL register row
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col),
            h.bitwiseAND(m - 1).alias("idx"),
            leading_zero_rank(F.shiftright(h, p), bits).alias("__rho"),
        )
        .groupBy(group_col, "idx")
        .agg(F.max("__rho").alias("r"))
    )


SAMPLE_SKETCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("hs", T.ArrayType(T.LongType())),
        T.StructField("ks", T.ArrayType(T.LongType())),
        T.StructField("vs", T.ArrayType(T.DoubleType())),
    ]
)


def _sample_sketch_output_schema(group_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            group_field,
            T.StructField("n_seen", T.LongType()),
            T.StructField("hs", T.ArrayType(T.LongType())),
            T.StructField("ks", T.ArrayType(T.LongType())),
            T.StructField("vs", T.ArrayType(T.DoubleType())),
        ]
    )


def sample_sketch_stream(
    events: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """Streaming maintenance of the uniform-sample quantile sketch
    (functions/sketch.sample_bottom_k_grouped): per group, keep the k
    rows with the smallest hash60(key) seen SO FAR, carried as three
    bounded arrays in ``applyInPandasWithState`` state. Because the
    bottom-k of a row set is order-independent, the drained state
    equals the batch sketch bit-for-bit no matter how micro-batches
    split the input — the mergeability property, exercised live.

    State is O(k) per group FOREVER (no watermark needed, like the
    CMS/HLL streams); each update sorts ≤ state+batch rows inside one
    Arrow batch. Output rows (update mode) snapshot the state with a
    monotone ``n_seen`` so a multi-batch drain can keep each group's
    last snapshot. Quantiles read off the drained arrays exactly as
    off the batch state.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pydala2_spark.functions.sketch import hash60

    hashed = events.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col),
        hash60(F.col(key_col)).alias("__h"),
        F.col(key_col).cast("long").alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    group_field = next(
        f for f in hashed.schema.fields if f.name == group_col
    )
    out_schema = _sample_sketch_output_schema(group_field)

    def _fn(
        key: Tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n_seen, hs, ks, vs = state.get
            items = list(zip(hs, ks, vs))
        else:
            n_seen, items = 0, []
        for pdf in batches:
            n_seen += len(pdf)
            items.extend(
                zip(
                    pdf["__h"].astype("int64"),
                    pdf["__k"].astype("int64"),
                    pdf["__v"].astype("float64"),
                )
            )
            items.sort(key=lambda t: (t[0], t[1]))
            del items[k:]
        hs = [int(t[0]) for t in items]
        ks = [int(t[1]) for t in items]
        vs = [float(t[2]) for t in items]
        state.update((n_seen, hs, ks, vs))
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [n_seen],
                "hs": [hs],
                "ks": [ks],
                "vs": [vs],
            }
        )

    return hashed.groupBy(group_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=SAMPLE_SKETCH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sample_sketch_rows(drained: DataFrame, group_col: str) -> DataFrame:
    """Unfold a drained sample-sketch stream back into per-row sketch
    state ``(group, h, __key, __val)`` — each group's LAST snapshot
    (max n_seen) wins, so a multi-batch drain in update mode (one
    snapshot row per group per touching batch) reduces correctly.
    Feed the result to functions/sketch.discrete_quantiles."""
    last = drained.groupBy(group_col).agg(
        F.max_by(F.struct("hs", "ks", "vs"), "n_seen").alias("__s")
    )
    z = F.explode(F.arrays_zip("__s.hs", "__s.ks", "__s.vs")).alias("__z")
    return last.select(F.col(group_col), z).select(
        F.col(group_col),
        F.col("__z.hs").alias("h"),
        F.col("__z.ks").alias("__key"),
        F.col("__z.vs").alias("__val"),
    )


CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ds", T.ArrayType(T.LongType())),
        T.StructField("cs", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def cusum_volume_stream(
    events: DataFrame,
    params: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming CUSUM volume monitoring (Page 1954) per group: daily
    event counts drift-tested against a FIXED reference rate — the
    "is traffic structurally above normal" alarm. ``params`` is a
    small static frame ``(group, mu, k, h)`` (reference daily rate,
    slack, alarm threshold — in production, fitted on a history
    window); it broadcasts into the stream per micro-batch
    (stream-static join) ahead of the stateful op.

    State is the per-day COUNT MAP — calendar-bounded (one long per
    day per group, forever) and ORDER-FREE: counts merge by addition
    whatever order micro-batches arrive in (the file source does NOT
    guarantee day order — observed delivering a backfill
    newest-first), and every emission computes the full CUSUM
    g_t = S_t - min(0, min_{j<=t} S_j) over the sorted days in one
    O(n_days) integer pass. Integer-exact, so the drained result
    equals the batch window-SQL computation to the digit, regardless
    of batch split or arrival order (pinned by pytest with a
    reversed-order drain).

    Output per touching batch: (group, n_seen, n_days, g_final,
    max_g, n_above); reduce multi-batch drains by max n_seen."""
    src = events.select(
        F.col(group_col),
        F.unix_date(F.to_date(ts_col)).alias("__day"),
    ).join(F.broadcast(params), group_col)
    group_field = next(f for f in src.schema.fields if f.name == group_col)
    out_schema = T.StructType(
        [
            group_field,
            T.StructField("n_seen", T.LongType()),
            T.StructField("n_days", T.LongType()),
            T.StructField("g_final", T.LongType()),
            T.StructField("max_g", T.LongType()),
            T.StructField("n_above", T.LongType()),
        ]
    )

    def _fn(
        key: Tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ds, cs, n_seen = state.get
            counts = dict(zip(ds, cs))
        else:
            counts, n_seen = {}, 0
        mu = k = h = None
        for pdf in batches:
            if mu is None and len(pdf):
                mu = int(pdf["mu"].iloc[0])
                k = int(pdf["k"].iloc[0])
                h = int(pdf["h"].iloc[0])
            n_seen += len(pdf)
            for day, cnt in pdf.groupby("__day").size().items():
                counts[int(day)] = counts.get(int(day), 0) + int(cnt)
        days = sorted(counts)
        state.update(
            (days, [counts[d] for d in days], n_seen)
        )
        s_ = min_s = 0
        max_g = n_above = 0
        g = 0
        if mu is not None:
            for d in days:
                s_ += counts[d] - mu - k
                min_s = min(min_s, s_)
                g = s_ - min(0, min_s)
                max_g = max(max_g, g)
                n_above += 1 if g > h else 0
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [n_seen],
                "n_days": [len(days)],
                "g_final": [g],
                "max_g": [max_g],
                "n_above": [n_above],
            }
        )

    return src.groupBy(group_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def topk_stream(
    events: DataFrame,
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """Streaming LEADERBOARD: the k highest-value rows per group,
    maintained as ``applyInPandasWithState`` state. Like the sample
    sketch, a top-k is a PURE FUNCTION OF THE ROW SET — merging each
    micro-batch into the k-row state commutes with any batch split or
    arrival order, so the drained board equals the batch top-k
    bit-for-bit (ties break on the id). State is O(k) per group
    forever; no watermark.

    Output per touching batch: one snapshot row per group with the
    id/value arrays rank-ordered; reduce multi-batch drains by max
    ``n_seen`` and explode (see the stream_topk_ingest query)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    src = events.filter(
        F.col(id_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(id_col).cast("long").alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    )
    group_field = next(f for f in src.schema.fields if f.name == group_col)
    out_schema = T.StructType(
        [
            group_field,
            T.StructField("n_seen", T.LongType()),
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("vals", T.ArrayType(T.DoubleType())),
        ]
    )

    def _fn(
        key: Tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, vals, n_seen = state.get
            items = list(zip(ids, vals))
        else:
            items, n_seen = [], 0
        for pdf in batches:
            n_seen += len(pdf)
            items.extend(
                zip(pdf["__id"].astype("int64"), pdf["__v"].astype("float64"))
            )
            # rank by (value DESC, id ASC); keep k
            items.sort(key=lambda t: (-t[1], t[0]))
            del items[k:]
        ids = [int(t[0]) for t in items]
        vals = [float(t[1]) for t in items]
        state.update((ids, vals, n_seen))
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [n_seen],
                "ids": [ids],
                "vals": [vals],
            }
        )

    return src.groupBy(group_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join within a time interval — the canonical
    two-firehose correlation (click→purchase attribution, request→
    response pairing): emit one row per (left, right) pair with the
    same ``key`` where ``left_ts <= right_ts <= left_ts + upper``.

    Both sides get the same event-time watermark; together with the
    interval condition that BOUNDS THE JOIN STATE — each side's buffer
    holds only rows inside watermark + interval, so state is
    rate x window, not history (the property that makes a
    stream-stream join survivable at 100 TB/day; without the interval
    bound Spark must buffer both streams forever). Inner joins emit
    matches immediately; the watermark only governs state eviction,
    so an availableNow drain yields exactly the batch-join answer.

    Column names must be disjoint apart from ``key`` (rename before
    calling); self-joins of one source stream are fine.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        f"{key} = __rk AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + INTERVAL {upper}"
    )
    r = r.withColumnRenamed(key, "__rk")
    return l.join(r, F.expr(cond), "inner").drop("__rk")


FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("v", T.BooleanType()),
        T.StructField("c", T.BooleanType()),
        T.StructField("p", T.BooleanType()),
        T.StructField("s0", T.LongType()),
        T.StructField("s1", T.LongType()),
        T.StructField("s2", T.LongType()),
        T.StructField("s3", T.LongType()),
    ]
)

FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("s0", T.LongType()),
        T.StructField("s1", T.LongType()),
        T.StructField("s2", T.LongType()),
        T.StructField("s3", T.LongType()),
    ]
)

_FUNNEL_STAGES = ("view", "click", "purchase")


def _funnel_fn(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session-funnel state machine: sessions split on
    >30 min gaps; within a session the funnel progresses STRICTLY IN
    ORDER (first view, then the first click after it, then the first
    purchase after that); each session lands in exactly one
    deepest-stage bucket 0-3. Emitted counts INCLUDE the open
    session's current stage, so a finite drain converges to the batch
    answer without a session-closing timeout."""
    if state.exists:
        last_ts, v, c, p, s0, s1, s2, s3 = state.get
        has_open = last_ts is not None
    else:
        last_ts, v, c, p = None, False, False, False
        s0 = s1 = s2 = s3 = 0
        has_open = False
    # applyInPandasWithState delivers a group's rows as MULTIPLE Arrow
    # chunks (maxRecordsPerBatch, multi-file micro-batches) in
    # partition order, not timestamp order — the ordered funnel is
    # order-sensitive, so concatenate the whole group and sort ONCE
    # over (ts, event_id) before iterating (per-user data is small;
    # state stays O(1) per user)
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        pdf = pdf.assign(__us=pdf["ts"].astype("int64") // 1000).sort_values(
            ["__us", "event_id"]
        )
        for t, et in zip(pdf["__us"], pdf["event_type"]):
            t = int(t)
            if has_open and t - last_ts > SESSION_GAP_US:
                stage = 3 if p else 2 if c else 1 if v else 0
                s0 += stage == 0
                s1 += stage == 1
                s2 += stage == 2
                s3 += stage == 3
                v = c = p = False
            has_open = True
            if et == _FUNNEL_STAGES[0] and not v:
                v = True
            elif et == _FUNNEL_STAGES[1] and v and not c:
                c = True
            elif et == _FUNNEL_STAGES[2] and c and not p:
                p = True
            last_ts = t
    state.update((last_ts, v, c, p, s0, s1, s2, s3))
    o0, o1, o2, o3 = s0, s1, s2, s3
    if has_open:
        stage = 3 if p else 2 if c else 1 if v else 0
        o0 += stage == 0
        o1 += stage == 1
        o2 += stage == 2
        o3 += stage == 3
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "s0": [o0],
            "s1": [o1],
            "s2": [o2],
            "s3": [o3],
        }
    )


def funnel_sessions_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user SESSION-scoped ordered
    funnel (view -> click -> purchase within a 30-min-gap session) via
    ``applyInPandasWithState`` — the streaming twin of a three-pass
    batch funnel. State is one tuple per user (booleans for the open
    session + four closed-session counters); at 100 TB/day the state
    volume is O(active users), the same envelope as sessionization."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def freshness_stream(events: DataFrame) -> DataFrame:
    """Streaming ingest-freshness state: per-group frontier timestamp
    and row count, maintained incrementally — the monitor a continuous
    pipeline keeps ALWAYS-ON (the batch freshness_report re-scans; this
    holds one (max_ts, count) tuple per group and updates per
    micro-batch). No watermark: the frontier must never expire."""
    return events.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
