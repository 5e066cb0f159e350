"""WARC custom DataSource: framing roundtrip, gzip member layout,
record-type filtering inside the reader, listing-level path pruning."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from hadoop_3_3_6_spark.sources.warc import (
    encode_warc,
    iter_warc_records,
    register_warc_source,
)


def _records(n, uri_prefix="http://example.com/doc/"):
    recs = []
    for i in range(n):
        recs.append(
            {
                "warc_type": "response",
                "target_uri": f"{uri_prefix}{i}",
                "content_type": "text/html",
                "payload": f"<html>doc {i} body {'x' * i}</html>",
            }
        )
        recs.append(
            {
                "warc_type": "request",
                "target_uri": f"{uri_prefix}{i}",
                "content_type": "application/http; msgtype=request",
                "payload": f"GET /doc/{i} HTTP/1.1",
            }
        )
    return recs


def test_warc_codec_roundtrip_plain_and_gzip(tmp_path):
    recs = _records(5)
    for compress, name in ((False, "a.warc"), (True, "b.warc.gz")):
        blob = encode_warc(recs, compress=compress)
        p = tmp_path / name
        p.write_bytes(blob)
        opener = gzip.open if compress else open
        with opener(p, "rb") as f:
            got = list(iter_warc_records(f))
        assert len(got) == 10
        for (headers, block), want in zip(got, recs):
            assert headers["warc-type"] == want["warc_type"]
            assert headers["warc-target-uri"] == want["target_uri"]
            assert int(headers["content-length"]) == len(block)
            assert block == want["payload"].encode()


def test_warc_source_reads_records_and_filters_types(spark, tmp_path):
    register_warc_source(spark)
    (tmp_path / "seg0.warc").write_bytes(encode_warc(_records(4)))
    (tmp_path / "seg1.warc.gz").write_bytes(encode_warc(_records(3), compress=True))

    df = spark.read.format("warc").load(str(tmp_path) + "/*.warc*")
    assert df.count() == 14  # (4+3) docs x (response+request)
    # one partition per segment file — the FileInputFormat contract
    assert df.rdd.getNumPartitions() == 2

    resp = spark.read.format("warc").option("record_types", "response").load(str(tmp_path) + "/*.warc*")
    rows = resp.collect()
    assert len(rows) == 7 and all(r.warc_type == "response" for r in rows)
    # payload survives both plain and gzip framing
    by_uri = {r.target_uri: bytes(r.payload) for r in rows}
    assert by_uri["http://example.com/doc/2"].startswith(b"<html>doc 2 body")
    # content_length is the block's true byte count
    assert all(r.content_length == len(bytes(r.payload)) for r in rows)


def test_warc_source_metadata_only_and_path_pruning(spark, tmp_path):
    register_warc_source(spark)
    (tmp_path / "seg0.warc").write_bytes(encode_warc(_records(2)))
    (tmp_path / "seg1.warc").write_bytes(encode_warc(_records(2)))

    meta = spark.read.format("warc").option("metadata_only", "true").load(str(tmp_path))
    assert meta.filter(F.col("payload").isNotNull()).count() == 0
    assert meta.count() == 8

    # path-prefix predicate prunes at LISTING time: one partition left
    pruned = spark.read.format("warc").load(str(tmp_path)).filter(
        F.col("path").startswith(str(tmp_path / "seg1"))
    )
    assert pruned.count() == 4
    assert pruned.rdd.getNumPartitions() == 1


def test_warc_writer_roundtrip_and_commit_protocol(spark, tmp_path):
    """Custom batch sink via the DataSource API: per-partition segment
    write, _SUCCESS manifest on commit, empty partitions leave no file
    (LazyOutputFormat), and the written corpus reads back exactly."""
    import os

    register_warc_source(spark)
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(f"http://x/{i}", "response", "text/plain", f"body {i}".encode()) for i in range(20)],
        "target_uri string, warc_type string, content_type string, payload binary",
    ).repartition(6)
    df.write.format("warc").option("compress", "true").mode("overwrite").save(out)

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    parts = [n for n in names if n.startswith("part-")]
    assert 0 < len(parts) <= 6 and all(n.endswith(".warc.gz") for n in parts)
    manifest = set(open(os.path.join(out, "_SUCCESS")).read().split())
    assert manifest == set(parts)

    back = spark.read.format("warc").load(out)
    rows = back.collect()
    assert len(rows) == 20
    assert {(r.target_uri, bytes(r.payload).decode()) for r in rows} == {
        (f"http://x/{i}", f"body {i}") for i in range(20)
    }
    # overwrite mode clears previous parts
    df.limit(3).repartition(1).write.format("warc").mode("overwrite").save(out)
    assert spark.read.format("warc").load(out).count() == 3


def test_warc_stream_sink_writes_epochs(spark, tmp_path):
    """Streaming WARC sink: the custom stream source drains into
    per-epoch segment files with an _epochs manifest; reading the
    directory back recovers every streamed record exactly once."""
    import os
    import time

    from hadoop_3_3_6_spark.sources.streamsource import register_range_stream

    register_warc_source(spark)
    register_range_stream(spark)
    out = str(tmp_path / "stream_out")
    q = (
        spark.readStream.format("rangestream")
        .option("batch_size", "400")
        .option("max_rows", "1200")
        .load()
        .selectExpr(
            "concat('http://n/', n) AS target_uri",
            "'resource' AS warc_type",
            "encode(value, 'utf-8') AS payload",
        )
        .writeStream.format("warc")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.format("warc").load(out + "/*.warc.gz").count() >= 1200:
                    break
            except Exception:
                pass  # no segment committed yet — the reader raises on an empty glob
            time.sleep(0.5)
    finally:
        q.stop()
    back = spark.read.format("warc").load(out + "/*.warc.gz")
    rows = back.collect()
    assert len(rows) == 1200
    assert {bytes(r.payload).decode() for r in rows} == {f"v{n}" for n in range(1200)}
    epochs = open(os.path.join(out, "_epochs")).read().strip().splitlines()
    assert len(epochs) >= 3  # 1200 rows / 400-row batches
    # deterministic per-(batch, partition) segment names — the replay
    # idempotence contract (a restarted batch overwrites, not duplicates)
    import re

    segs = [n for n in os.listdir(out) if n.endswith(".warc.gz")]
    assert segs and all(re.fullmatch(r"part-\d{8}-\d{5}\.warc\.gz", n) for n in segs)


def test_warc_stream_sink_commit_is_replay_idempotent(tmp_path):
    """A restarted query re-executing an already-committed batchId must
    not append a second _epochs line (its deterministic file names
    already overwrote the same segments)."""
    import os

    from hadoop_3_3_6_spark.sources.pydatasource import PartCommit
    from hadoop_3_3_6_spark.sources.warc import WarcStreamWriter

    out = str(tmp_path / "sink")
    w = WarcStreamWriter({"path": out})
    msgs = [PartCommit(os.path.join(out, "part-00000007-00000.warc.gz"), 5)]
    w.commit(msgs, 7)
    w.commit(msgs, 7)  # replay of batch 7 after restart
    w.commit(msgs, 8)
    lines = open(os.path.join(out, "_epochs")).read().strip().splitlines()
    assert [ln.split("\t")[0] for ln in lines] == ["7", "8"]


def test_warc_distributed_stream_reader_picks_up_new_segments(spark, tmp_path):
    """Distributed streaming ingestion (full DataSourceStreamReader):
    the driver lists the segment dir per micro-batch, executors parse
    records; segments that arrive AFTER the stream starts are picked
    up by later batches, every record exactly once."""
    import time
    import uuid as _uuid

    register_warc_source(spark)
    seg_dir = str(tmp_path / "segs")
    import os

    os.makedirs(seg_dir)
    (tmp_path / "segs" / "part-00000.warc").write_bytes(encode_warc(_records(3)))

    name = "wst" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("warc")
        .option("path", seg_dir)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c >= 6:
                break
            time.sleep(0.3)
        # a new segment lands mid-stream
        (tmp_path / "segs" / "part-00001.warc.gz").write_bytes(
            encode_warc(_records(2, uri_prefix="http://late.example.com/doc/"), compress=True)
        )
        deadline = time.time() + 45
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c >= 10:
                break
            time.sleep(0.3)
        rows = spark.sql(f"SELECT record_id, target_uri FROM {name}").collect()
    finally:
        q.stop()
    assert len(rows) == 10
    assert len({(r.record_id, r.target_uri) for r in rows}) == 10  # exactly once
    assert sum(1 for r in rows if "late.example.com" in (r.target_uri or "")) == 4


def test_warc_permissive_tolerates_truncated_tail(spark, tmp_path):
    """Crawl-reality mode: a segment whose final record was cut off
    mid-transfer yields its complete records under permissive=true and
    raises loudly in strict mode."""
    import pytest

    good = encode_warc(_records(3))
    cut = encode_warc(
        [{"warc_type": "response", "target_uri": "http://cut/0", "payload": "chopped body"}]
    )[:-7]  # chop mid-block
    p = tmp_path / "trunc.warc"
    p.write_bytes(good + cut)

    register_warc_source(spark)
    ok = spark.read.format("warc").option("permissive", "true").load(str(p))
    assert ok.count() == 6  # the 3 complete docs x (response+request)

    with pytest.raises(Exception, match="truncated|WARC"):
        spark.read.format("warc").load(str(p)).count()


def test_warc_stream_offsets_survive_producer_deletion(spark, tmp_path):
    """Offsets are high-water-mark file NAMES: deleting an
    already-consumed segment must not shift which files a later batch
    covers (a count-based offset would skip the next arrival)."""
    import os
    import time
    import uuid as _uuid

    register_warc_source(spark)
    seg = tmp_path / "segs"
    seg.mkdir()
    (seg / "part-00000.warc").write_bytes(encode_warc(_records(2)))

    name = "wdel" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("warc").option("path", str(seg)).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline and spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c < 4:
            time.sleep(0.3)
        # producer retention deletes the consumed segment, then two arrive
        os.remove(seg / "part-00000.warc")
        (seg / "part-00001.warc").write_bytes(encode_warc(_records(1, uri_prefix="http://a/")))
        (seg / "part-00002.warc").write_bytes(encode_warc(_records(1, uri_prefix="http://b/")))
        deadline = time.time() + 45
        while time.time() < deadline and spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c < 8:
            time.sleep(0.3)
        rows = spark.sql(f"SELECT DISTINCT target_uri FROM {name}").collect()
    finally:
        q.stop()
    uris = {r.target_uri for r in rows}
    # BOTH post-deletion segments arrived (count offsets would drop one)
    assert "http://a/0" in uris and "http://b/0" in uris


def test_warc_folded_header_and_missing_content_length():
    """ISO 28500 §4/§5.3 conformance (round-10 binary-source review):
    a header value folded across lines (leading SP/HT, RFC 5322 style)
    reassembles into ONE value instead of corrupting the header map
    with a bogus key; a record missing the mandatory Content-Length
    raises in strict mode (guessing 0 would mis-frame the stream) and
    cleanly ends the stream in permissive mode."""
    import io

    import pytest

    folded = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:1>\r\n"
        b"WARC-Target-URI: http://example.org/very/long\r\n"
        b"\tpath/continues/here\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"ok\r\n\r\n"
    )
    recs = list(iter_warc_records(io.BytesIO(folded)))
    assert len(recs) == 1
    headers, block = recs[0]
    assert headers["warc-target-uri"] == "http://example.org/very/long path/continues/here"
    assert "path/continues/here" not in {k for k in headers}  # no bogus key
    assert block == b"ok"

    missing = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:2>\r\n"
        b"\r\n"
        b"body\r\n\r\n"
    )
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(io.BytesIO(missing)))
    good_then_missing = folded + missing
    kept = list(iter_warc_records(io.BytesIO(good_then_missing), permissive=True))
    assert len(kept) == 1 and kept[0][1] == b"ok"
