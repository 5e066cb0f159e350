"""Streaming semantics beyond the oracle checks: watermark late-data
dropping, plus container/source coverage (ORC, Avro, permissive CSV)
and the multimodal resize/frame-sample plumbing."""

from __future__ import annotations

import pytest

try:
    import google.protobuf  # noqa: F401

    _HAVE_PROTOBUF = True
except ImportError:
    _HAVE_PROTOBUF = False


def test_transform_with_state_gate_or_oracle(spark, duck, sf_dir):
    """transformWithStateInPandas: exact per-user running totals when
    google-protobuf is available; a clear RuntimeError gate when not
    (this sandbox lacks it — same honest-gate pattern as the codec
    stubs)."""
    from hadoop_3_3_6_spark.streaming.windows import streaming_transform_with_state

    if not _HAVE_PROTOBUF:
        with pytest.raises(RuntimeError, match="protobuf"):
            streaming_transform_with_state(spark, sf_dir)
        return
    from hadoop_3_3_6_spark.plans.queries import ORACLES
    from tests.util import assert_frames_match

    got = streaming_transform_with_state(spark, sf_dir).toPandas()
    want = duck.execute(ORACLES["streaming_transform_with_state"]).df()
    assert_frames_match(got, want, "streaming_transform_with_state")

import pytest
from pyspark.sql import functions as F


def test_watermark_drops_late_data(spark, tmp_path):
    """Aggregations drop events older than the watermark: micro-batch 1
    advances event time far ahead; micro-batch 2 delivers a very late
    event, which must NOT appear in the final windows (SURVEY.md §2.9
    'watermarks + late-data dropping')."""
    import time

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_batch(name: str, rows):
        df = spark.createDataFrame(rows, "id long, ts_s string").select(
            "id", F.to_timestamp("ts_s").alias("ts")
        )
        df.coalesce(1).write.parquet(str(src / name))
        time.sleep(1.1)  # later mtime -> later micro-batch (arrival order)

    # watermark commits lag one batch: batch N filters with the
    # watermark computed from batches <= N-1, so the late row goes in
    # the third batch (after 12:00-10min has committed).
    write_batch("b0", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")])
    write_batch("b1", [(4, "2024-01-01 12:30:00")])
    write_batch("b2", [(3, "2024-01-01 09:00:00")])  # hours late vs 10-min watermark

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src / "b*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "late_drop_t"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # append emits only finalized (watermark-passed) windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    rows = spark.table(name).select(F.col("w.start").cast("string").alias("ws"), "n").collect()
    finalized = {r["ws"]: r["n"] for r in rows}
    assert dropped == 1, f"late row not dropped (dropped={dropped}, windows={finalized})"
    # the 09:00 late event's window must never be emitted
    assert "2024-01-01 09:00:00" not in finalized
    assert finalized.get("2024-01-01 10:00:00") == 1


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("g"))
    p = str(tmp_path / "orc")
    df.write.orc(p)
    assert spark.read.orc(p).agg(F.sum("id")).collect()[0][0] == 4950


def test_avro_roundtrip(spark, tmp_path):
    pytest.importorskip("pyspark")
    df = spark.range(50).select("id", F.concat(F.lit("r"), F.col("id")).alias("name"))
    p = str(tmp_path / "avro")
    try:
        df.write.format("avro").save(p)
    except Exception:
        pytest.skip("spark-avro format provider not bundled")
    assert spark.read.format("avro").load(p).count() == 50


def test_permissive_csv_bad_records(spark, tmp_path):
    """SkipBadRecords at the reader tier (SURVEY.md §2.3): PERMISSIVE
    mode captures malformed rows instead of failing the job."""
    p = tmp_path / "data.csv"
    p.write_text("1,alpha\n2,beta\nnot_an_int,gamma\n4,delta\n")
    df = (
        spark.read.schema("k int, v string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 3 and len(bad) == 1
    assert bad[0]["_corrupt_record"].startswith("not_an_int")


def test_multimodal_resize_and_frames(spark):
    """Payloads that are neither a decodable image nor y4m video fail
    the resize and frame-sampling stages loudly — no fabricated
    thumbnails or frames."""
    from hadoop_3_3_6_spark.functions.multimodal import resize_images, sample_frames

    df = spark.createDataFrame(
        [(1, bytes(range(200))), (2, bytes(200))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="NotImplementedError"):
        resize_images(df, width=8, height=8).collect()
    with pytest.raises(Exception, match="NotImplementedError"):
        sample_frames(df, every_n=3).collect()


def test_custom_stream_source_exactly_once_drain(spark, tmp_path):
    """Custom Python streaming source (SimpleDataSourceStreamReader):
    offset-bounded micro-batches drain the full range exactly once —
    no gaps, no duplicates — and stop advancing at max_rows."""
    import time
    import uuid as _uuid

    from hadoop_3_3_6_spark.sources.streamsource import register_range_stream

    register_range_stream(spark)
    name = "rs" + _uuid.uuid4().hex[:10]
    q = (
        spark.readStream.format("rangestream")
        .option("batch_size", "700")
        .option("max_rows", "3000")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c >= 3000:
                break
            time.sleep(0.5)
        time.sleep(2)  # run the post-drain empty-read path
        assert q.exception() is None  # end-of-stream reads must not error
        rows = spark.sql(f"SELECT n, h FROM {name}").collect()
    finally:
        q.stop()
    assert len(rows) == 3000
    assert {r.n for r in rows} == set(range(3000))
    assert all(r.h == r.n * r.n % 997 for r in rows)


def test_state_sizing_skips_temporary_and_hidden_dirs(tmp_path):
    """State partitions size from the dataset's real part files only:
    an interrupted write's _temporary/ tree (or a hidden directory)
    must not inflate the byte count and hence the partition count."""
    from hadoop_3_3_6_spark.streaming.windows import sized_state_partitions

    ds = tmp_path / "events.parquet"
    ds.mkdir()
    (ds / "part-00000.parquet").write_bytes(b"x" * 1000)
    for junk in ("_temporary/0", ".hidden"):
        (ds / junk).mkdir(parents=True)
        (ds / junk / "part-00001.parquet").write_bytes(b"x" * 50_000)
    # 1000 real bytes / 100-byte target = 10 partitions
    assert sized_state_partitions(str(tmp_path), target_bytes=100, floor=1) == 10


_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


class _DrainProgress:
    """A StreamingQueryListener's record of the queries it saw: the run
    ids of their progress events and of their terminations."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress, self.terminated = [], []
        record = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                record.progress.append(str(event.progress.runId))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                record.terminated.append(str(event.runId))

        self.spark, self.listener = spark, _Listener()
        spark.streams.addListener(self.listener)

    def batches(self, drain) -> int:
        """Micro-batches of the one query ``drain()`` runs: the listener
        bus delivers a query's progress events before its termination."""
        import time

        seen = len(self.terminated)
        drain()
        deadline = time.time() + 60
        while len(self.terminated) == seen and time.time() < deadline:
            time.sleep(0.05)
        assert len(self.terminated) == seen + 1, "drain did not terminate once"
        return self.progress.count(self.terminated[-1])

    def close(self):
        self.spark.streams.removeListener(self.listener)


def test_drain_checkpoints_through_filesystem_manager(spark, sf_dir, tmp_path, monkeypatch):
    """run_stream_to_batch starts its query with the FileSystem-based
    checkpoint manager, the requested state partitions and no-data
    micro-batches as the drain's plan needs them (off for a
    complete-mode count and the inner stream-stream join, on for the
    left outer one), and puts all three confs back afterwards (an
    unset key stays unset), also when start() raises; its temp
    checkpoint dir is removed either way.  The inner join drain runs
    its one data batch only; the left join also runs the no-data batch
    that emits its unmatched clicks."""
    import os
    import tempfile

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from hadoop_3_3_6_spark.plans.queries import QUERIES
    from hadoop_3_3_6_spark.streaming import windows

    mgr_key = "spark.sql.streaming.checkpointFileManagerClass"
    part_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(mgr_key)
    spark.conf.unset(nodata_key)
    prev_parts = spark.conf.get(part_key)
    state_parts = str(int(prev_parts) + 1)

    seen = []
    fail = False
    real_start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        conf = self._spark.conf
        seen.append((conf.get(mgr_key, None), conf.get(part_key), conf.get(nodata_key, None)))
        if fail:
            raise RuntimeError("start failed")
        return real_start(self, *args, **kwargs)

    ckpts = []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        ckpts.append(real_mkdtemp(*args, **kwargs))
        return ckpts[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

    src = tmp_path / "src"
    spark.range(20).select((F.col("id") % 3).alias("k")).write.parquet(str(src))
    stream = spark.readStream.schema("k long").parquet(str(src)).groupBy("k").count()

    def assert_restored():
        assert spark.conf.get(mgr_key, None) is None
        assert spark.conf.get(nodata_key, None) is None
        assert spark.conf.get(part_key) == prev_parts
        assert ckpts and not any(os.path.exists(c) for c in ckpts)

    out = windows.run_stream_to_batch(stream, state_partitions=int(state_parts))
    assert seen == [(_FS_MANAGER, state_parts, "false")]
    assert_restored()
    assert sorted(tuple(r) for r in out.collect()) == [(0, 7), (1, 7), (2, 6)]

    fail = True
    with pytest.raises(RuntimeError, match="start failed"):
        windows.run_stream_to_batch(stream, state_partitions=int(state_parts))
    assert seen == [(_FS_MANAGER, state_parts, "false")] * 2
    assert len(ckpts) == 2
    assert_restored()

    fail = False
    progress = _DrainProgress(spark)
    try:
        batches = {
            name: progress.batches(lambda: QUERIES[name](spark, sf_dir))
            for name in ("streaming_stream_stream_join", "streaming_stream_stream_left_join")
        }
    finally:
        progress.close()
    assert [nodata for _, _, nodata in seen[2:]] == ["false", "true"]
    assert batches == {"streaming_stream_stream_join": 1, "streaming_stream_stream_left_join": 2}
    assert_restored()


@pytest.mark.parametrize("manager", [_FC_MANAGER, _FS_MANAGER], ids=["filecontext", "filesystem"])
def test_checkpoint_restart_matches_one_shot(spark, tmp_path, manager):
    """A durable checkpoint resumes exactly under either checkpoint
    manager: a watermarked tumbling count drained over two files, then
    restarted from its checkpoint after a third file lands, ends equal
    to one drain over all three files."""
    import uuid

    from hadoop_3_3_6_spark.streaming.windows import _scoped_confs, run_stream_to_batch

    src = tmp_path / "src"
    files = [
        ["2024-01-01 10:05:00", "2024-01-01 10:40:00", "2024-01-01 11:10:00"],
        ["2024-01-01 11:20:00", "2024-01-01 12:15:00"],
        ["2024-01-01 12:45:00", "2024-01-01 13:05:00", "2024-01-01 13:30:00", "2024-01-01 13:50:00"],
    ]

    def add_file(stamps):
        spark.createDataFrame([(s,) for s in stamps], "ts_s string").select(
            F.to_timestamp("ts_s").alias("ts")
        ).coalesce(1).write.mode("append").parquet(str(src))

    def counts():
        return (
            spark.readStream.schema("ts timestamp")
            .parquet(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def rows(df):
        return sorted((r["w"]["start"], r["n"]) for r in df.collect())

    name = "restart_" + uuid.uuid4().hex[:10]
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            counts()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    add_file(files[0])
    add_file(files[1])
    with _scoped_confs(spark, {"spark.sql.streaming.checkpointFileManagerClass": manager}):
        first = drain()
        add_file(files[2])
        second = drain()
    assert first.id == second.id  # the restart resumed the same query
    assert sum(p["numInputRows"] for p in second.recentProgress) == len(files[2])
    restarted = rows(spark.table(name))

    assert restarted == rows(run_stream_to_batch(counts()))
    assert sum(n for _, n in restarted) == sum(map(len, files))


def test_event_stream_runs_no_schema_job(spark, sf_dir):
    """The events stream declares the schema of the memoized batch
    scan: once load_table has read the table, building the stream
    launches no Spark job (re-reading the parquet footer would launch
    one per call), and its ts is the same microsecond timestamp."""
    from hadoop_3_3_6_spark.session import load_table
    from hadoop_3_3_6_spark.streaming.windows import _event_stream

    batch = load_table(spark, "events", sf_dir)
    sc = spark.sparkContext
    group = "event-stream-schema"
    sc.setJobGroup(group, "event stream construction")
    try:
        streams = [_event_stream(spark, sf_dir) for _ in range(3)]
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert all(s.isStreaming and s.schema == batch.schema for s in streams)


def _stream_rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _streaming_drains() -> list[str]:
    from hadoop_3_3_6_spark.plans.queries import QUERIES

    return [name for name in QUERIES if name.startswith("streaming_")]


@pytest.mark.parametrize("name", _streaming_drains())
def test_drain_rows_equal_with_no_data_batches_forced_on(spark, sf_dir, monkeypatch, name):
    """Each registered streaming query drains through run_stream_to_batch,
    and its rows under the no-data-batch rule equal its rows with no-data
    micro-batches forced on (Spark's default): the rule only skips a
    batch that cannot change the result."""
    from hadoop_3_3_6_spark.plans.queries import QUERIES
    from hadoop_3_3_6_spark.streaming import windows

    rule = windows._no_data_batch_can_emit
    decided = []

    def recording_rule(stream_df, output_mode):
        decided.append(rule(stream_df, output_mode))
        return decided[-1]

    monkeypatch.setattr(windows, "_no_data_batch_can_emit", recording_rule)
    under_rule = _stream_rows(QUERIES[name](spark, sf_dir))
    assert decided, f"{name} did not drain through run_stream_to_batch"
    monkeypatch.setattr(windows, "_no_data_batch_can_emit", lambda stream_df, output_mode: True)
    assert under_rule == _stream_rows(QUERIES[name](spark, sf_dir))


def test_append_window_count_keeps_no_data_batches(spark, tmp_path, monkeypatch):
    """An append-mode windowed count emits a window only once the
    watermark has passed its end, which on a one-file replay happens in
    the no-data batch after the data batch: the rule keeps that batch,
    and without it the drain emits nothing."""
    from hadoop_3_3_6_spark.streaming import windows

    src = tmp_path / "src"
    stamps = ["2024-01-01 10:05:00", "2024-01-01 10:40:00", "2024-01-01 11:10:00", "2024-01-01 12:15:00"]
    spark.createDataFrame([(s,) for s in stamps], "ts_s string").select(
        F.to_timestamp("ts_s").alias("ts")
    ).coalesce(1).write.parquet(str(src))
    counts = (
        spark.readStream.schema("ts timestamp")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("start"), "n")
    )

    assert windows._no_data_batch_can_emit(counts, "append")
    closed = _stream_rows(windows.run_stream_to_batch(counts, output_mode="append"))
    # the watermark after the data batch is 12:05: two windows closed
    assert closed == [("10:00", 2), ("11:00", 1)]
    monkeypatch.setattr(windows, "_no_data_batch_can_emit", lambda stream_df, output_mode: False)
    assert _stream_rows(windows.run_stream_to_batch(counts, output_mode="append")) == []


def test_left_join_rows_change_without_no_data_batches(spark, sf_dir, monkeypatch):
    """Canary of the differential test above: forced off, the left
    outer stream-stream join loses the unmatched clicks that only its
    no-data batch emits, so a rule that turned it off would show."""
    from hadoop_3_3_6_spark.plans.queries import QUERIES
    from hadoop_3_3_6_spark.streaming import windows

    query = QUERIES["streaming_stream_stream_left_join"]
    under_rule = _stream_rows(query(spark, sf_dir))
    monkeypatch.setattr(windows, "_no_data_batch_can_emit", lambda stream_df, output_mode: False)
    assert _stream_rows(query(spark, sf_dir)) != under_rule


def test_no_data_batch_rule_keeps_timeouts_timers_and_unknown_nodes(spark, tmp_path):
    """The rule keeps no-data batches for a state function whose timeout
    or timer can fire in one, and for a streaming plan node it does not
    know (Spark's default); the same functions without a timeout or
    timer turn them off.  Decided from the plan alone: nothing runs."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from hadoop_3_3_6_spark.streaming.windows import _no_data_batch_can_emit

    src = tmp_path / "src"
    spark.range(3).select(F.col("id").alias("user_id"), F.current_timestamp().alias("ts")).write.parquet(
        str(src)
    )
    events = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )

    def update(key, pdfs, state):
        yield from ()

    class Processor(StatefulProcessor):
        def init(self, handle):
            pass

        def handleInputRows(self, key, rows, timerValues):
            yield from ()

        def close(self):
            pass

    def with_state(timeout):
        return events.groupBy("user_id").applyInPandasWithState(
            update, "user_id long", "n long", "update", timeout
        )

    def with_timers(time_mode):
        return events.groupBy("user_id").transformWithStateInPandas(
            Processor(), "user_id long", "Update", time_mode
        )

    assert not _no_data_batch_can_emit(with_state(GroupStateTimeout.NoTimeout), "update")
    assert _no_data_batch_can_emit(with_state(GroupStateTimeout.EventTimeTimeout), "update")
    assert _no_data_batch_can_emit(with_state(GroupStateTimeout.ProcessingTimeTimeout), "update")
    assert not _no_data_batch_can_emit(with_timers("None"), "update")
    assert _no_data_batch_can_emit(with_timers("EventTime"), "update")
    assert _no_data_batch_can_emit(with_timers("ProcessingTime"), "update")
    assert not _no_data_batch_can_emit(events, "append")
    assert _no_data_batch_can_emit(events.union(events), "append")
