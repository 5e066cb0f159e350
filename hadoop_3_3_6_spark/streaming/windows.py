"""Structured Streaming extension over the events table (SURVEY.md §2.9).

The reference is batch-only (hadoop-kafka under /root/reference/
hadoop-tools/ is a metrics *sink*, not a data source) — this module is
the north-star streaming capability: event-time windows, session
windows, watermark-based late-data handling, and stateful dedup.

Each query reads the events parquet with ``readStream`` (availableNow
semantics via a one-shot trigger into a memory sink) so the DuckDB
batch oracle can check the final result.  On a real deployment the
same plans run against Kafka/files with a real trigger — only the
source/sink bindings change.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream: declared with the memoized
    batch scan's on-disk schema (no schema-inference job), timestamps
    normalized by the same rule as session.load_table."""
    from hadoop_3_3_6_spark.session import normalize_timestamps, scan_table

    schema = scan_table(spark, "events", sf_dir).schema
    # FileStreamSource needs a directory/glob source path, not a bare
    # file — glob on the file name keeps basePath a directory.
    stream = spark.readStream.schema(schema).parquet(os.path.join(sf_dir, "events.*"))
    return normalize_timestamps(stream, "events")


def sized_state_partitions(
    sf_dir: str,
    source: str = "events.parquet",
    target_bytes: int = 64 * 1024 * 1024,
    floor: int = 4,
) -> int:
    """State-partition count sized from the stream SOURCE's on-disk
    volume — the streaming mirror of session.sized_shuffle_partitions,
    but WITHOUT the per-core floor: a stateful micro-batch pays a fixed
    per-store cost per partition per batch (open, snapshot, delta
    commit; a stream-stream join keeps FOUR stores per partition), so
    partitions beyond the state volume are pure overhead rather than
    idle-but-free tasks.  r13 measured curve on the sf0.1 drain
    (one micro-batch, 2 MB source): tumbling agg 1.0/1.1/2.0/4.7 s and
    the outer-join drain 2.4/4.3/5.5/11.9 s at 4/8/16/32 partitions —
    monotone in partition count, so the floor (4) is the local
    optimum AND the scale-safe minimum.  At real stream volumes
    (GB-scale micro-batches) ceil(bytes/target) takes over and the
    count grows with the data exactly like a batch shuffle.  Every
    drain checkpoints into a fresh temp dir, so no checkpoint layout
    pins the count."""
    import math

    path = os.path.join(sf_dir, source)
    try:
        if os.path.isdir(path):
            # multi-file parquet dataset (the realistic at-scale shape):
            # getsize on the directory returns the inode size (~4 KB),
            # which would silently pin the count to the floor — sum the
            # data files instead (r14 ADVICE fix).  Hidden and
            # underscore DIRECTORIES are pruned too: an interrupted
            # write's _temporary/ tree is not part of the dataset.
            nbytes = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                nbytes += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith((".", "_"))
                )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        nbytes = 0
    return max(floor, math.ceil(nbytes / target_bytes))


# Checkpoint manager of the one-shot drains (see run_stream_to_batch).
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the body, then put each key back
    as it was, also on an exception: its previous value, or unset if it
    was unset (the key's default is never written back)."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def run_stream_to_batch(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming plan to exhaustion (availableNow) into a memory
    sink and return the final table as a batch DataFrame.

    ``state_partitions`` pins spark.sql.shuffle.partitions for THE
    QUERY START only (restored after termination).  A streaming query
    freezes its state-partition count into the checkpoint at first
    run, so this is a real per-query deployment decision, not a local
    tweak: each state partition carries its own state store (a
    stream-stream join keeps four per partition), and per-store
    overhead dominates when partitions far exceed state volume —
    measured 2.7x on the outer-join drain at local scale.  Sequential
    use only (the confs are session-scoped while the query starts)."""
    from hadoop_3_3_6_spark.session import spark_local_dir

    spark = stream_df.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    # the one-shot drain's checkpoint (offset log + state-store deltas,
    # a few KB per state partition per micro-batch) is ephemeral by
    # construction — the memory-sink table IS the result — so it goes
    # on the same fast scratch tier as shuffle spill (spark.local.dir:
    # tmpfs here, provisioned local SSD on a cluster) instead of the
    # burst-throttled persistent disk.  A RESUMABLE deployment would
    # pass its own durable checkpointLocation; none of these one-shot
    # drains is resumed.
    #
    # It is written through the FileSystem-based checkpoint manager.
    # Without the native Hadoop library the default FileContext manager
    # on the local file system forks a readlink/chmod shell for the
    # metadata of every checkpoint file: one warm stream-stream join
    # drain at sf0.01 started ~790 processes with it, ~180 without
    # (4 cores, Linux).  The FileSystem manager's weaker rename
    # atomicity only matters to a checkpoint that is resumed, and this
    # one is removed below.  The stream thread clones the session's
    # confs after start() returns, so they stay set until the query
    # has terminated.
    confs = {"spark.sql.streaming.checkpointFileManagerClass": _FS_CKPT_MANAGER}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    ckpt_base = spark_local_dir()
    os.makedirs(ckpt_base, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_", dir=ckpt_base)
    try:
        with _scoped_confs(spark, confs):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 10-minute watermark:
    count + value sum per (window, event_type)."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )
    out = run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )
    return out.select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")


def streaming_session_counts(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of
    event-time silence.  Returns (user_id, session_start, n_events)."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )
    return out.select("user_id", F.col("w.start").alias("session_start"), "n_events")


def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT inactivity gap (purchases hold
    a session open for 60 minutes, everything else 30) —
    ``session_window`` with a Column gap, the event-time feature fixed
    gaps can't express: each event extends its session to
    ``ts + gap(event)`` and overlapping windows merge.  Exact
    gaps-and-islands oracle via running max of window ends."""
    stream = _event_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", "60 minutes").otherwise("30 minutes")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )
    return out.select(
        "user_id", F.col("sw.start").alias("session_start"), "n_events"
    )


def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter carried in explicit state across
    micro-batches (the reference has no streaming state at all —
    SURVEY.md §2.9; this is the arbitrary-state tier beyond built-in
    window aggregates)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        running = state.get[0] if state.exists else 0
        for pdf in pdfs:
            running += len(pdf)
        state.update((running,))
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [running]})

    stream = _event_stream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_batch(
        counted, output_mode="update", state_partitions=sized_state_partitions(sf_dir)
    )
    # update mode emits one row per (user, batch); keep the final count
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id via plain
    ``dropDuplicates`` (the reference's nearest concept is identity
    reduce on key); returns per-type distinct counts.  NOTE the state
    contract (round-10 review fix — the old docstring claimed "within
    the watermark"): with the event-time column absent from the dedup
    keys, plain dropDuplicates state is NEVER evicted regardless of
    the upstream watermark — key state grows with distinct-key
    cardinality.  That is the correct tool for a bounded replay like
    this query; for unbounded streams use
    :func:`streaming_dedup_within_watermark`, whose state is bounded
    by the watermark delay."""
    stream = _event_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )


def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (typed ValueState in a RocksDB-backed
    store, timers, TTL) that supersedes applyInPandasWithState for new
    stateful operators.  Dollar values are quantized to integer cents
    BEFORE the stateful op so the running sum is exact integer
    arithmetic — the same order-independence trick as the LM scorer,
    which is what makes an exact replay oracle possible.

    On the bounded replay the final state equals a global
    (count, sum) per user; update-mode emissions are one row per
    (user, batch), so the batch view keeps each user's last row.

    ENVIRONMENT GATE: the transformWithState state-server protocol
    needs the ``google.protobuf`` package (not bundled with pyspark);
    without it this raises RuntimeError and the query is not
    registered (see plans/queries.py)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas requires the google-protobuf package "
            "(pyspark's state-server protocol); not present in this environment"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += int(len(pdf))
                cents += int(pdf["value_cents"].sum())
            self._agg.update((n, cents))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

        def close(self) -> None:
            pass

    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with _scoped_confs(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        stream = _event_stream(spark, sf_dir).withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("bigint")
        )
        counted = stream.groupBy("user_id").transformWithStateInPandas(
            RunningStats(),
            outputStructType="user_id bigint, n_events bigint, total_cents bigint",
            outputMode="Update",
            timeMode="None",
        )
        out = run_stream_to_batch(
            counted,
            output_mode="update",
            state_partitions=sized_state_partitions(sf_dir),
        )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_cents").alias("total_cents")
    )


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` — unlike
    plain ``dropDuplicates`` (whose key state lives forever), state for
    a key is evicted once the watermark passes its first-seen event
    time, so state is bounded by the watermark delay rather than the
    key cardinality — the only viable dedup form over an unbounded
    100 TB/day stream whose keys don't repeat forever.  Semantics on a
    bounded replay with unique event_ids are identical to exact dedup,
    which keeps the oracle exact."""
    stream = _event_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to the
    static customer dim (broadcast per micro-batch), aggregated by
    customer segment — the canonical streaming-ETL enrich + rollup."""
    from hadoop_3_3_6_spark.session import load_table

    stream = _event_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(cust), on="user_id", how="inner")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )
    return run_stream_to_batch(
        agg, output_mode="complete", state_partitions=sized_state_partitions(sf_dir)
    )


def _click_purchase_pairs(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The click-to-purchase interval join of both stream-stream
    queries, drained: click events joined ``how`` to purchase events of
    the same user within the following 30 minutes, both sides
    watermarked so the state store can evict."""

    def side(event_type: str, user: str, ts: str, event_id: str) -> DataFrame:
        return (
            _event_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(user), F.col("ts").alias(ts), F.col("event_id").alias(event_id))
            .withWatermark(ts, "1 hour")
        )

    joined = side("click", "user_id", "click_ts", "click_id").join(
        side("purchase", "p_user_id", "purchase_ts", "purchase_id"),
        on=F.expr(
            """
            user_id = p_user_id AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + interval 30 minutes
            """
        ),
        how=how,
    ).select("user_id", "click_id", "purchase_id")
    return run_stream_to_batch(
        joined, output_mode="append", state_partitions=sized_state_partitions(sf_dir)
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click events joined to purchase
    events of the same user within the following 30 minutes — both
    sides watermarked so the state store can evict (the join form that
    needs true dual-stream state, impossible in the reference's batch
    model).  Returns per-user conversion pair counts."""
    out = _click_purchase_pairs(spark, sf_dir, "inner")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click joined to
    purchases of the same user in the following 30 minutes; clicks
    still unmatched when the global watermark passes their join window
    emit a null-match row — the state-eviction semantics batch outer
    joins don't have.  Under availableNow replay the final no-data
    micro-batch advances the watermark to max(event time) - delay
    (min across both streams), so exactly the clicks whose window
    closed before that cutoff emit null matches: deterministic, hence
    oracle-checkable.  Returns per-user (n_pairs, n_expired)."""
    out = _click_purchase_pairs(spark, sf_dir, "leftOuter")
    return out.groupBy("user_id").agg(
        F.count("purchase_id").alias("n_pairs"),
        F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_expired"),
    )
