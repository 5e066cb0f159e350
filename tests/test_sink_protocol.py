"""The one part-file commit protocol and the one input-listing rule in
sources/pydatasource.py, checked once per hand-written file format."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hadoop_3_3_6_spark.sources.avro_io import register_avro_sink
from hadoop_3_3_6_spark.sources.seqfile import register_seqfile_sink
from hadoop_3_3_6_spark.sources.warc import register_warc_source

# format -> (part extension, session registration)
FORMATS = {
    "seqfile": (".seq", register_seqfile_sink),
    "avrofile": (".avro", register_avro_sink),
    "warc": (".warc", register_warc_source),
}


def _rows(spark, fmt, n, bad_row=None):
    """``n`` rows for ``fmt``; ``bad_row`` makes that row one the
    format's encoder rejects: a null SequenceFile key, invalid UTF-8 in
    an Avro string, a WARC record without a WARC-Type."""
    bad = F.col("id") == (-1 if bad_row is None else bad_row)
    good = F.col("id").cast("string")
    if fmt == "warc":
        return spark.range(n).select(
            F.when(~bad, F.lit("resource")).alias("warc_type"), good.cast("binary").alias("payload")
        )
    if fmt == "seqfile":
        return spark.range(n).select(F.when(~bad, good).alias("key"), F.lit("v").alias("value"))
    return spark.range(n).select(
        good.alias("key"), F.when(bad, F.expr("cast(unhex('FF') as string)")).otherwise("v").alias("value")
    )


def _save(df, fmt, out):
    FORMATS[fmt][1](df.sparkSession)
    df.write.format(fmt).option("compress", "false").mode("overwrite").save(out)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_overwrite_clears_old_parts_and_stale_temps(spark, tmp_path, fmt):
    ext, out = FORMATS[fmt][0], str(tmp_path / fmt)
    _save(_rows(spark, fmt, 10).repartition(3), fmt, out)
    assert len([n for n in os.listdir(out) if n.startswith("part-")]) >= 2
    open(os.path.join(out, f".part-00000-dead{ext}.tmp"), "wb").close()  # a killed task's temp

    _save(_rows(spark, fmt, 4).coalesce(1), fmt, out)
    assert sorted(os.listdir(out)) == ["_SUCCESS", f"part-00000{ext}"]
    assert open(os.path.join(out, "_SUCCESS")).read().split() == [f"part-00000{ext}"]


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_encoder_failure_leaves_no_part_and_no_temp(spark, tmp_path, fmt):
    out = str(tmp_path / fmt)
    with pytest.raises(Exception):
        _save(_rows(spark, fmt, 6, bad_row=3).coalesce(1), fmt, out)
    left = os.listdir(out)
    assert not [n for n in left if n.startswith("part-") or n.endswith(".tmp")], left


def test_stream_segment_is_listed_only_when_complete(tmp_path, monkeypatch):
    """A WARC stream segment still being written is invisible to the
    stream reader; it appears, complete, once its task publishes it."""
    from types import SimpleNamespace

    import pyspark

    from hadoop_3_3_6_spark.sources.warc import WarcStreamReader, WarcStreamWriter

    # the task context of partition 0 in micro-batch 7
    ctx = SimpleNamespace(partitionId=lambda: 0, getLocalProperty={"streaming.sql.batchId": "7"}.get)
    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: ctx))
    out = str(tmp_path / "segs")
    writer, reader = WarcStreamWriter({"path": out}), WarcStreamReader({"path": out})
    seen_mid_write = []

    def rows():
        yield Row(warc_type="resource", payload=b"first")
        seen_mid_write.append(reader.latestOffset())
        yield Row(warc_type="resource", payload=b"second")

    assert writer.write(rows()).n == 2
    assert seen_mid_write == [{"last": ""}]
    assert reader.latestOffset() == {"last": "part-00000007-00000.warc.gz"}
    (seg,) = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert [r[2] for r in reader.read(seg)] == ["resource", "resource"]


def test_readers_skip_hidden_and_underscore_files(tmp_path):
    """FileInputFormat's hidden-file rule: a '.'- or '_'-prefixed name
    is never input, for a directory path and a wildcard path alike."""
    from hadoop_3_3_6_spark.functions.multimodal import encode_wav
    from hadoop_3_3_6_spark.sources.avro_io import AvroReader, encode_container
    from hadoop_3_3_6_spark.sources.pydatasource import WavDataSourceReader
    from hadoop_3_3_6_spark.sources.warc import WarcDataSourceReader, encode_warc

    avro_schema = {"type": "record", "name": "row", "fields": [{"name": "id", "type": "long"}]}
    cases = {
        ".wav": (WavDataSourceReader, encode_wav(np.zeros(8, dtype=np.int16), 8000)),
        ".warc": (WarcDataSourceReader, encode_warc([{"warc_type": "resource", "payload": b"x"}])),
        ".avro": (AvroReader, encode_container([(1,)], avro_schema)),
    }
    for ext, (reader, payload) in cases.items():
        d = tmp_path / ext[1:]
        d.mkdir()
        for name in ("data", ".x", "_x"):
            (d / f"{name}{ext}").write_bytes(payload)
        for path in (str(d), str(d / f"*{ext}")):
            assert [p.path for p in reader({"path": path}).partitions()] == [str(d / f"data{ext}")], path
