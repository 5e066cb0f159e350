"""Typed-bytes wire protocol (hadoop-streaming's binary I/O).

Reference parity targets (paths under /root/reference/):

- Frame format — HT/hadoop-streaming/src/main/java/org/apache/hadoop/
  typedbytes/Type.java:25-43 (codes) and TypedBytesOutput.java:
  BYTES(0) = code + int32 len + raw; BYTE(1) = code + 1; BOOL(2) =
  code + 0/1; INT(3)/LONG(4)/FLOAT(5)/DOUBLE(6) = code + big-endian
  fixed width; STRING(7) = code + WritableUtils.writeString (vint
  byte-length + UTF-8); VECTOR(8) = code + int32 count + element
  frames; LIST(9) = code + element frames + MARKER(255); MAP(10) =
  code + int32 count + key/value frame pairs.
- TypedBytesWritable (TypedBytesWritable.java:32) — a BytesWritable
  whose payload IS one typed-bytes frame; ``loadtb`` loads streams of
  frames into SequenceFiles of these, and streaming jobs with
  ``-io typedbytes`` exchange alternating key/value frames.
- DumpTypedBytes (HT/hadoop-streaming/.../DumpTypedBytes.java) — reads
  any input and emits each record as a typed-bytes key/value pair;
  :func:`typed_bytes_frames` is the DataFrame analogue.

The codec is pure Python by design — the wire format IS the
semantics (same ruling as the image/audio codecs) — and runs
executor-side over Arrow batches; everything around it (the
SequenceFile container, partitioning, the census aggregates) stays
in DataFrame land.  SURVEY §4's ruling stands for the engine's OWN
data exchange (Arrow plays typed-bytes' role inside PySpark); this
module exists so data produced FOR or BY reference streaming jobs
round-trips byte-exactly.
"""

from __future__ import annotations

import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from hadoop_3_3_6_spark.sources.seqfile import _read_vint, _vint, walk_seq_records

# Type.java:25-43
BYTES, BYTE, BOOL, INT, LONG, FLOAT, DOUBLE, STRING, VECTOR, LIST, MAP = range(11)
MARKER = 255

TYPED_BYTES_WRITABLE = "org.apache.hadoop.typedbytes.TypedBytesWritable"


def encode_typed_bytes(obj: Any) -> bytes:
    """One typed-bytes frame for a python value, the
    TypedBytesOutput.write(Object) dispatch: bytes->BYTES,
    bool->BOOL (checked before int!), int->INT when it fits a Java
    int else LONG, float->DOUBLE (python floats are doubles; FLOAT
    frames are decoded but never produced), str->STRING,
    list->VECTOR (Java ArrayList), tuple->LIST (the marker-terminated
    form), dict->MAP."""
    if isinstance(obj, (bytes, bytearray)):
        return struct.pack(">Bi", BYTES, len(obj)) + bytes(obj)
    if isinstance(obj, bool):
        return struct.pack(">B?", BOOL, obj)
    if isinstance(obj, int):
        if -(2**31) <= obj < 2**31:
            return struct.pack(">Bi", INT, obj)
        return struct.pack(">Bq", LONG, obj)
    if isinstance(obj, float):
        return struct.pack(">Bd", DOUBLE, obj)
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        return struct.pack(">B", STRING) + _vint(len(b)) + b
    if isinstance(obj, list):
        return struct.pack(">Bi", VECTOR, len(obj)) + b"".join(
            encode_typed_bytes(x) for x in obj
        )
    if isinstance(obj, tuple):
        return (
            struct.pack(">B", LIST)
            + b"".join(encode_typed_bytes(x) for x in obj)
            + struct.pack(">B", MARKER)
        )
    if isinstance(obj, dict):
        return struct.pack(">Bi", MAP, len(obj)) + b"".join(
            encode_typed_bytes(k) + encode_typed_bytes(v) for k, v in obj.items()
        )
    raise TypeError(f"cannot write objects of type {type(obj).__name__} as typed bytes")


def decode_typed_bytes(data: bytes, pos: int = 0) -> tuple[Any, int]:
    """Read one frame (TypedBytesInput.read), returning (value, next
    position).  VECTOR decodes to a python list, LIST (marker-
    terminated) to a tuple, MAP to a dict; unknown/application codes
    (e.g. WRITABLE=50) raise — same as the reference's default arm."""
    code = data[pos]
    pos += 1
    if code == BYTES:
        (n,) = struct.unpack_from(">i", data, pos)
        pos += 4
        return bytes(data[pos : pos + n]), pos + n
    if code == BYTE:
        return struct.unpack_from("b", data, pos)[0], pos + 1
    if code == BOOL:
        return data[pos] != 0, pos + 1
    if code == INT:
        return struct.unpack_from(">i", data, pos)[0], pos + 4
    if code == LONG:
        return struct.unpack_from(">q", data, pos)[0], pos + 8
    if code == FLOAT:
        return struct.unpack_from(">f", data, pos)[0], pos + 4
    if code == DOUBLE:
        return struct.unpack_from(">d", data, pos)[0], pos + 8
    if code == STRING:
        n, pos = _read_vint(data, pos)
        return data[pos : pos + n].decode("utf-8"), pos + n
    if code == VECTOR:
        (n,) = struct.unpack_from(">i", data, pos)
        pos += 4
        out = []
        for _ in range(n):
            v, pos = decode_typed_bytes(data, pos)
            out.append(v)
        return out, pos
    if code == LIST:
        out = []
        while data[pos] != MARKER:
            v, pos = decode_typed_bytes(data, pos)
            out.append(v)
        return tuple(out), pos + 1
    if code == MAP:
        (n,) = struct.unpack_from(">i", data, pos)
        pos += 4
        d = {}
        for _ in range(n):
            k, pos = decode_typed_bytes(data, pos)
            v, pos = decode_typed_bytes(data, pos)
            d[k] = v
        return d, pos
    raise ValueError(f"unknown typed-bytes type code {code}")


def typed_bytes_frames(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """DumpTypedBytes' record shape as a DataFrame: one (key, value)
    binary-frame pair per row — the key column's frame and a VECTOR
    frame of the value columns (how streaming jobs carry multi-field
    values).  Arrow-batched; the frames are what a ``-io typedbytes``
    PipeMapper would write to the child process."""
    cols = [key_col] + list(value_cols)
    src = df.select(*cols)

    def enc(batches) -> Iterator:
        import pandas as pd

        def native(v):
            # numpy scalars out of Arrow batches -> python natives so
            # the write(Object) dispatch sees Java-shaped types
            return v.item() if hasattr(v, "item") else v

        for pdf in batches:
            keys = [encode_typed_bytes(native(v)) for v in pdf[key_col]]
            vals = [
                encode_typed_bytes([native(v) for v in row])
                for row in pdf[list(value_cols)].itertuples(index=False, name=None)
            ]
            yield pd.DataFrame({"key": keys, "value": vals})

    return src.mapInPandas(enc, "key binary, value binary")


def write_typed_bytes_seqfile(df: DataFrame, path: str) -> None:
    """``loadtb``'s output shape: a real SEQ v6 SequenceFile whose key
    and value classes are TypedBytesWritable (a BytesWritable carrying
    one frame — TypedBytesWritable.java:45-52), so reference tooling
    reads it natively.  ``df`` must be (key binary, value binary)
    frame pairs, e.g. from :func:`typed_bytes_frames`."""
    from hadoop_3_3_6_spark.sources.seqfile import register_seqfile_sink

    register_seqfile_sink(df.sparkSession)
    (
        df.write.format("seqfile")
        .mode("overwrite")
        .option("keyClass", TYPED_BYTES_WRITABLE)
        .option("valueClass", TYPED_BYTES_WRITABLE)
        .save(path)
    )


def read_typed_bytes_frame(fp) -> bytes | None:
    """Read ONE complete frame's raw bytes off a stream (the child-
    process side of ``-io typedbytes``: TypedBytesInput over stdin).
    Returns None on clean EOF at a frame boundary; a stream ending
    MID-frame raises — the reference's DataInput would throw
    EOFException there too."""
    head = fp.read(1)
    if not head:
        return None
    buf = bytearray(head)
    _scan_frame_body(fp, head[0], buf)
    return bytes(buf)


def _need(fp, n: int, buf: bytearray) -> bytes:
    b = fp.read(n)
    if len(b) != n:
        raise ValueError("truncated typed-bytes stream (EOF mid-frame)")
    buf += b
    return b


def _scan_frame_body(fp, code: int, buf: bytearray) -> None:
    if code == BYTES:
        (n,) = struct.unpack(">i", _need(fp, 4, buf))
        _need(fp, n, buf)
    elif code in (BYTE, BOOL):
        _need(fp, 1, buf)
    elif code in (INT, FLOAT):
        _need(fp, 4, buf)
    elif code in (LONG, DOUBLE):
        _need(fp, 8, buf)
    elif code == STRING:
        first = struct.unpack("b", _need(fp, 1, buf))[0]
        if first >= -112:
            n = first
        else:
            ln = -(first + 120) if first < -120 else -(first + 112)
            v = 0
            for byte in _need(fp, ln, buf):
                v = (v << 8) | byte
            n = ~v if first < -120 else v
        _need(fp, n, buf)
    elif code == VECTOR:
        (n,) = struct.unpack(">i", _need(fp, 4, buf))
        for _ in range(n):
            sub = _need(fp, 1, buf)
            _scan_frame_body(fp, sub[0], buf)
    elif code == LIST:
        while True:
            sub = _need(fp, 1, buf)
            if sub[0] == MARKER:
                return
            _scan_frame_body(fp, sub[0], buf)
    elif code == MAP:
        (n,) = struct.unpack(">i", _need(fp, 4, buf))
        for _ in range(2 * n):
            sub = _need(fp, 1, buf)
            _scan_frame_body(fp, sub[0], buf)
    else:
        raise ValueError(f"unknown typed-bytes type code {code}")


def read_raw_bytes_frame(fp) -> bytes | None:
    """One ``-io rawbytes`` frame off a stream: int32 length + raw
    payload (RawBytesOutputReader.java:49-56 — EOF at a length
    boundary means done; EOF mid-payload is an error).  Returns the
    PAYLOAD (the length prefix is framing, not data)."""
    head = fp.read(4)
    if not head:
        return None
    if len(head) != 4:
        raise ValueError("truncated rawbytes stream (EOF inside a length)")
    (n,) = struct.unpack(">i", head)
    body = fp.read(n)
    if len(body) != n:
        raise ValueError("truncated rawbytes stream (EOF mid-frame)")
    return body


# rows per pandas frame a pipe yields back from its child's output
PIPE_BATCH_ROWS = 2048


def pipe_typed_bytes(df: DataFrame, argv: list[str], io: str = "typedbytes") -> DataFrame:
    """The binary streaming pipe (HT/hadoop-streaming/.../
    PipeMapRed.java child-process contract): per PARTITION one child
    process of ``argv`` is spawned — the reference spawns one per map
    task — fed alternating key/value frames on stdin from a writer
    thread (so a child that streams output while reading input never
    deadlocks on pipe buffers), while frames coming back on stdout are
    re-paired and yielded in Arrow-sized batches.

    ``io='typedbytes'`` (TypedBytesInputWriter/OutputReader): ``df``
    must be (key binary, value binary) typed-bytes frames, e.g. from
    :func:`typed_bytes_frames`, and output frames are self-describing.
    ``io='rawbytes'`` (RawBytesInputWriter.java:57-63): each side is
    int32 length + raw payload — ``df`` columns are the raw payloads
    and the length framing is added/stripped here.  Output is the same
    shape as input either way.  A nonzero child exit or a value frame
    missing after a key frame fails the task loudly (MRErrorThread
    semantics)."""
    if io not in ("typedbytes", "rawbytes"):
        raise ValueError(f"io must be 'typedbytes' or 'rawbytes', got {io!r}")
    if df.columns[:2] != ["key", "value"]:
        raise ValueError(
            f"pipe frames need (key, value) binary columns, got {df.columns}"
        )
    raw = io == "rawbytes"

    def run(batches) -> Iterator:
        import os
        import subprocess
        import threading

        import pandas as pd

        proc = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE)

        feed_error: list[BaseException] = []

        def feed() -> None:
            # stdin MUST close on every path: a feeder exception that
            # left it open would hang the child on read and this task
            # on the child's stdout — a silent stall, not a failure
            try:
                for pdf in batches:
                    for k, v in zip(pdf["key"], pdf["value"]):
                        kb, vb = bytes(k), bytes(v)
                        if raw:
                            kb = struct.pack(">i", len(kb)) + kb
                            vb = struct.pack(">i", len(vb)) + vb
                        proc.stdin.write(kb)
                        proc.stdin.write(vb)
            except BrokenPipeError:
                pass  # child exited early; rc check below surfaces it
            except BaseException as exc:  # re-raised consumer-side
                feed_error.append(exc)
            finally:
                try:
                    proc.stdin.close()
                except BrokenPipeError:
                    pass

        feeder = threading.Thread(target=feed, daemon=True)
        feeder.start()
        read_frame = read_raw_bytes_frame if raw else read_typed_bytes_frame
        keys: list[bytes] = []
        vals: list[bytes] = []
        while True:
            k = read_frame(proc.stdout)
            if k is None:
                break
            v = read_frame(proc.stdout)
            if v is None:
                raise ValueError("typed-bytes pipe: key frame without a value frame")
            keys.append(k)
            vals.append(v)
            if len(keys) >= PIPE_BATCH_ROWS:
                yield pd.DataFrame({"key": keys, "value": vals})
                keys, vals = [], []
        # r12 ADVICE: a child that closed stdout (clean EOF above) but
        # stopped DRAINING stdin without exiting leaves the feeder
        # blocked on a full pipe buffer — an unbounded join() here
        # would hang the task forever.  Bounded join; on expiry kill
        # the child so the feeder's write fails (BrokenPipeError) and
        # the nonzero-exit path below reports the stall loudly.  The
        # timeout is env-tunable (r14 ADVICE): a legitimate child that
        # closes stdout early but drains a huge remaining stdin slower
        # than the default would otherwise be killed and reported as a
        # bare nonzero exit, masking the real cause.
        stall_timeout = float(os.environ.get("SPARK_GRAFT_PIPE_STALL_TIMEOUT_S", "30"))
        feeder_stalled = False
        feeder.join(timeout=stall_timeout)
        if feeder.is_alive():
            feeder_stalled = True
            proc.kill()
            feeder.join(timeout=stall_timeout)
        if feed_error:
            raise RuntimeError("typed-bytes pipe feed failed") from feed_error[0]
        rc = proc.wait()
        if rc != 0:
            stall_note = (
                f" (feeder stalled >{stall_timeout:g}s after child closed "
                "stdout — child killed; raise SPARK_GRAFT_PIPE_STALL_TIMEOUT_S "
                "if the child legitimately drains stdin slowly)"
                if feeder_stalled
                else ""
            )
            raise RuntimeError(f"typed-bytes pipe child exited {rc}{stall_note}")
        if keys:
            yield pd.DataFrame({"key": keys, "value": vals})

    return df.mapInPandas(run, "key binary, value binary")


def read_raw_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFileAsBinaryInputFormat the way the reference actually
    does it (MRC/mapreduce/lib/input/SequenceFileAsBinaryRecordReader:
    nextRawKey/nextRawValue — records surface WITHOUT deserializing,
    so the key/value classes need not be loadable): a pure-Python SEQ
    v6 record walker over each file's bytes, Arrow-batched, one task
    per file (files are written one per partition, so round-trip
    parallelism is preserved).  Returns (key, value) binary columns
    carrying the raw Writable payload bytes.

    The JVM-backed :func:`containers.read_sequence_file_as_binary`
    re-derives the same bytes for classes Spark can deserialize; this
    reader is the arm for classes it can't (TypedBytesWritable lives
    in the hadoop-streaming jar, absent from the runtime classpath).
    BytesWritable-framed payloads (int32 length prefix) are unwrapped
    to the payload, like nextRawValue's ValueBytes."""
    # pathGlobFilter (not a glob in the path) so the stream-sink
    # metadata probe sees a real directory — no spurious WARN stack
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(path)
    )

    def parse(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            keys: list[bytes] = []
            vals: list[bytes] = []
            for blob in pdf["content"]:
                for kb, vb in walk_seq_records(bytes(blob)):
                    keys.append(kb)
                    vals.append(vb)
            yield pd.DataFrame({"key": keys, "value": vals})

    return files.select("content").mapInPandas(parse, "key binary, value binary")
