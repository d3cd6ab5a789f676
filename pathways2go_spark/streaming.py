"""Streaming ingestion: continuous document arrival -> the same KG stages.

The reference is strictly batch (SURVEY.md §2.8: no streaming operators
exist in pathways2GO) — this module is the forward-looking surface the
Spark-native engine gets for free: a Structured Streaming job that tails
a documents directory (or any file source the cluster exposes) and runs
the identical batch pipeline per micro-batch via foreachBatch, writing
into the same resumable bucketed sink (sinks.py). Semantics are exactly
the batch pipeline's — foreachBatch hands each micro-batch to
`run_pipeline`, so rule order, node-id determinism and lineage manifests
are shared, and the stream can be replayed idempotently (content-keyed
node ids + checkpointLocation).

No watermarks/session windows are needed: documents are independent
units (one pathway model per doc), so ingestion is embarrassingly
parallel and late data is just a new micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .dims import Dims
from .ingest import DOCUMENTS_SCHEMA
from .pipeline import prepare_local_dims, run_pipeline
from .sinks import _hadoop_fs, write_triples


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """readStream over a documents directory (parquet files of the
    BASELINE.json input shape)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_kg_stream(
    spark: SparkSession,
    docs_path: str,
    dims: Dims,
    out_path: str,
    checkpoint_dir: str,
    buckets: int = 16,
    max_files_per_trigger: int = 8,
):
    """documents dir -> streaming KG construction -> bucketed triple sink.

    Each micro-batch runs the full batch pipeline (stage A + ordered
    stage-B rules); the sink write is resume-aware per bucket, and the
    stream itself is exactly-once via checkpointLocation. Returns the
    StreamingQuery (caller awaits/stops)."""
    stream = read_document_stream(spark, docs_path, max_files_per_trigger)
    # one dictionary build + broadcast for the whole stream, not one per
    # micro-batch
    prepared = prepare_local_dims(dims)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = run_pipeline(spark, batch_df, dims, prepared=prepared)
        # one bucketed sub-sink per micro-batch: a replayed batch
        # overwrites exactly itself (content-keyed ids -> byte-identical),
        # never a neighbour batch's buckets
        write_triples(
            spark,
            res.triples,
            f"{out_path}/batch={batch_id}",
            buckets=buckets,
            resume=False,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_triples(spark: SparkSession, out_path: str) -> DataFrame | None:
    """Union of every micro-batch's bucketed sink under out_path, or None
    when the stream has produced no batches yet (callers must handle the
    None before composing with unionByName etc.).

    Enumerates batch directories through the Hadoop FileSystem API (not a
    local glob), so the read-back path works on any filesystem the write
    path supports (HDFS/S3/local)."""
    fs, path = _hadoop_fs(spark, out_path)
    if not fs.exists(path):
        # stream produced no batches yet — documented empty result
        return None
    datas = sorted(
        str(st.getPath().toString()) + "/data"
        for st in fs.listStatus(path)
        if st.isDirectory() and st.getPath().getName().startswith("batch=")
    )
    if not datas:
        return None
    # ONE multi-path scan, not a per-batch unionByName loop: a long-lived
    # stream accumulates thousands of micro-batch dirs, and an O(batches)
    # union tree blows up analysis time while a multi-path FileScan stays
    # a single plan node. recursiveFileLookup skips partition discovery —
    # the only partition column under each batch dir is the sink's write
    # bucket, which this read-back intentionally discards anyway, and
    # without it Spark would try (and fail) to reconcile the batch=N
    # roots into one partition spec.
    return spark.read.option("recursiveFileLookup", "true").parquet(*datas)


# ----------------------------------------------------------------------
# Stateful streaming dedup (beyond the reference, per the driver brief's
# "applyInPandasWithState for custom stateful operators"): exact
# content dedup ACROSS micro-batches. A training-data ingest stream must
# drop re-crawled/re-delivered documents whose content already arrived
# in any earlier batch — dropDuplicates on a stream only works within
# the watermark, and the batch dedup operators (dedup.py) only see one
# batch. Here the seen-set is keyed state: the stream groups by content
# hash, and each group's GroupState records that the hash has been
# emitted, so later arrivals of the same content produce nothing.
# State size is one empty row per distinct content hash — bounded by
# corpus cardinality, partitioned across executors by the hash.
# ----------------------------------------------------------------------

def content_hash(col):
    """Deterministic content hash of a spans column (md5 of the JSON
    rendering — stable across partitionings and engines)."""
    from pyspark.sql import functions as F

    return F.md5(F.to_json(col))


def start_dedup_stream(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    state_ttl_ms: int | None = None,
    processing_time: str | None = None,
):
    """documents dir -> exactly-one-doc-per-content stream.

    Emits (h, doc_id) once per distinct content hash: the first
    micro-batch that carries a hash emits its smallest doc_id (ties
    inside a batch are broken deterministically), every later batch's
    duplicates are swallowed by the keyed state. Output appends to
    parquet under out_path; exactly-once via checkpointLocation.

    state_ttl_ms bounds the seen-set for months-long streams (without it
    state grows with corpus cardinality forever). Semantics — a SLIDING
    processing-time window per content hash:
      * every sighting of a hash (first emit or swallowed duplicate)
        re-arms its eviction timer to state_ttl_ms from that batch;
      * a hash whose timer has expired is evicted at the next micro-batch
        in which it carries NO data (Spark only fires timeouts for
        data-less groups — a re-arrival in the expiring batch itself is
        still deduped and re-arms the timer, so dedup is EXACT for any
        duplicate arriving within state_ttl_ms of the last sighting);
      * a re-arrival AFTER eviction is treated as new content and
        re-emitted — the documented trade-off of bounding state.
    state_ttl_ms=None keeps the exact unbounded behaviour.

    processing_time selects a continuous trigger (e.g. "500 milliseconds")
    instead of the default availableNow one-shot.

    KNOWN LIMITATION (pyspark 4.1.2 in this image): a ProcessingTime
    timeout that fires in the FIRST batches after a query RESTART from
    checkpoint crashes the Python worker inside Spark's
    applyInPandasWithState runner (EOF/connection-reset, no Python
    traceback — reproduced with a minimal two-run repro independent of
    this module; the same timeout firing within a single long-lived run
    works, which tests/test_streaming.py::test_stateful_dedup_stream_ttl
    proves). Production deployments of the TTL variant should prefer
    long-lived queries; Spark 4's transformWithStateInPandas (native
    state TTL) is the migration target once its protobuf dependency is
    available."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_document_stream(spark, docs_path, max_files_per_trigger)
    hashed = stream.select(
        content_hash(stream["spans"]).alias("h"), "doc_id"
    )

    def keep_first(key, pdfs, state):
        if state.hasTimedOut:
            # data-less group whose TTL expired: evict the hash
            state.remove()
            return
        if not state.exists:
            best = None
            for pdf in pdfs:
                m = pdf["doc_id"].min()
                best = m if best is None or m < best else best
            if best is not None:
                state.update((1,))
                if state_ttl_ms:
                    state.setTimeoutDuration(state_ttl_ms)
                yield pd.DataFrame({"h": [key[0]], "doc_id": [best]})
        else:
            for _ in pdfs:  # drain the iterator; emit nothing
                pass
            if state_ttl_ms:
                # sliding window: a swallowed duplicate re-arms the timer
                state.setTimeoutDuration(state_ttl_ms)

    deduped = hashed.groupBy("h").applyInPandasWithState(
        keep_first,
        outputStructType="h string, doc_id string",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms
            else GroupStateTimeout.NoTimeout
        ),
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_metrics_stream(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
):
    """Event-time tumbling-window aggregation with a late-data watermark
    (the classic Structured Streaming metrics job): streamed events
    group into `window`-sized event-time buckets per event_type; append
    mode + `watermark` means a window is EMITTED EXACTLY ONCE, when the
    watermark (max seen event time minus `watermark`) passes its end,
    and rows arriving later than the watermark for an already-closed
    window are dropped — the documented, bounded-state trade-off.

    Expects parquet files with at least (ts timestamp, event_type
    string, props string); emits (window_start, window_end, event_type,
    n, sum_k) to parquet under out_path, exactly-once via
    checkpointLocation. Returns the StreamingQuery.

    Scale shape: per-window-per-type partial aggregates combine
    map-side within each micro-batch; state held between batches is one
    row per OPEN window per type (watermark evicts closed windows), so
    state size is bounded by (windows inside the watermark horizon ×
    types), independent of stream length."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(events_path)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias(
                "sum_k"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_k",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_stream_stream_join(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    out_path: str,
    checkpoint_dir: str,
    watermark: str = "20 minutes",
    max_lag: str = "10 minutes",
):
    """Watermarked stream-stream inner join (the attribution join:
    every right event matched to the left events of the same user_id
    that it follows within `max_lag`). Both sides are live streams, so
    each must buffer rows the other side may still match — the join is
    only bounded because BOTH a watermark and an event-time RANGE
    condition are declared:

    - left rows are evictable once the watermark passes l_ts + max_lag
      (no future right row can land in their window);
    - right rows are evictable once the watermark passes r_ts.

    Without the range condition Spark must keep EVERY past row on both
    sides forever (it warns, then state grows without bound) — the
    range predicate is load-bearing for state size, not a filter
    nicety. State is therefore O(rows inside the watermark+lag
    horizon), independent of stream length.

    Emits (user_id, l_id, r_id, l_ts, r_ts) append-mode to parquet,
    exactly-once via checkpointLocation; inputs are parquet file
    streams with the events schema. Returns the StreamingQuery.
    A joined pair is emitted only after the watermark passes the point
    where no further match could change it (append-mode semantics), so
    re-running with availableNow never duplicates pairs."""
    from pyspark.sql import functions as F

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    left = (
        spark.readStream.schema(schema)
        .parquet(left_path)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
            "user_id",
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        spark.readStream.schema(schema)
        .parquet(right_path)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_user"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}")),
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts")
    return (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_snapshot_stream(
    spark: SparkSession,
    docs_path: str,
    dims: Dims,
    store_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """documents dir -> streaming KG construction -> the Iceberg-style
    SNAPSHOT STORE (sinks.append_snapshot): micro-batch b commits as
    snapshot b+1 with parent b, so the growing stream IS a version
    history — `read_as_of(spark, store, n)` time-travels to the corpus
    as of micro-batch n-1, and `snapshot_log` is the stream's audit
    trail.

    Exactly-once end to end from two independent idempotence layers:
    Structured Streaming replays an uncommitted batch after a crash
    (checkpointLocation), and append_snapshot's manifest-last commit
    makes the replay a no-op when the snapshot already landed —
    the same batch id can never produce two snapshots. Returns the
    StreamingQuery."""
    stream = read_document_stream(spark, docs_path, max_files_per_trigger)
    prepared = prepare_local_dims(dims)  # once per stream, as in start_kg_stream

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from .sinks import append_snapshot

        res = run_pipeline(spark, batch_df, dims, prepared=prepared)
        triples = res.triples.select(
            "model_id", "subj", "pred", "obj"
        ).distinct()
        append_snapshot(
            triples,
            store_path,
            snapshot_id=batch_id + 1,
            parent=batch_id if batch_id > 0 else None,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_hll_stream(
    spark: SparkSession,
    docs_path: str,
    store_path: str,
    checkpoint_dir: str,
    col: str = "doc_id",
    max_files_per_trigger: int = 8,
):
    """Streaming distinct-count over an unbounded document stream:
    each micro-batch's HLL register partial (sketches.hll_partials)
    folds into the persistent register state by register-wise max and
    commits as a SELF-CONTAINED snapshot (parent=None) in the snapshot
    store.

    Why this shape at stream scale: the state is bounded by m = 4096
    registers REGARDLESS of how long the stream runs (contrast the
    dedup stream's seen-set, which needs a TTL), the fold is one
    register-keyed groupBy over at most 2m rows, and exactly-once
    comes for free from append_snapshot's manifest-last commit — a
    replayed batch recomputes the identical merge (the fold reads only
    snapshots <= its own batch id) and its commit no-ops. Restarting
    the availableNow trigger resumes from the checkpoint, and
    read_hll_stream() always equals batch hll_distinct over everything
    committed so far."""
    from pyspark.sql import functions as F

    from .sinks import _read_manifests, append_snapshot
    from .sketches import hll_partials

    stream = read_document_stream(spark, docs_path, max_files_per_trigger)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = hll_partials(batch_df.select(col), col)
        prior = [
            m
            for m in _read_manifests(spark, store_path)
            if m["snapshot_id"] <= batch_id
        ]
        merged = partial
        if prior:
            latest = max(prior, key=lambda m: m["snapshot_id"])
            prev = spark.read.parquet(latest["data_dir"])
            merged = (
                prev.unionByName(partial)
                .groupBy("__reg")
                .agg(F.max("__mj").alias("__mj"))
            )
        append_snapshot(
            merged.select("__reg", "__mj"),
            store_path,
            snapshot_id=batch_id + 1,
            parent=None,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_stream(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Estimate from the stream's latest committed register state, or
    None when no batch has committed yet (callers must handle None).
    One bounded scan (<= m rows) + the shared FFGM estimator."""
    from .sinks import _read_manifests
    from .sketches import hll_estimate

    ms = _read_manifests(spark, store_path)
    if not ms:
        return None
    latest = max(ms, key=lambda m: m["snapshot_id"])
    return hll_estimate(spark.read.parquet(latest["data_dir"]))
