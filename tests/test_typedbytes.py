"""Typed-bytes wire protocol (sources/typedbytes.py).

Byte-pins each frame against the wire layout of
TypedBytesOutput.java (code + big-endian payloads, vint+UTF-8
strings, int32-counted VECTOR/MAP, marker-terminated LIST), and the
loadtb-shaped SequenceFile round trip through the raw (never-
deserialize) reader.
"""

from __future__ import annotations

import random
import struct

import pytest

from hadoop_3_3_6_spark.sources.typedbytes import (
    TYPED_BYTES_WRITABLE,
    decode_typed_bytes,
    encode_typed_bytes,
    read_raw_sequence_file,
    typed_bytes_frames,
    write_typed_bytes_seqfile,
)


def test_frame_bytes_pinned():
    """Exact wire bytes per TypedBytesOutput.java."""
    assert encode_typed_bytes(b"\x01\x02") == b"\x00\x00\x00\x00\x02\x01\x02"
    assert encode_typed_bytes(True) == b"\x02\x01"
    assert encode_typed_bytes(False) == b"\x02\x00"
    assert encode_typed_bytes(42) == b"\x03\x00\x00\x00\x2a"
    assert encode_typed_bytes(-1) == b"\x03\xff\xff\xff\xff"
    assert encode_typed_bytes(2**40) == b"\x04\x00\x00\x01\x00\x00\x00\x00\x00"
    assert encode_typed_bytes(1.5) == b"\x06" + struct.pack(">d", 1.5)
    # STRING: vint byte-length (single byte <= 127) + UTF-8
    assert encode_typed_bytes("hé") == b"\x07\x03h\xc3\xa9"
    # VECTOR: int32 count + element frames
    assert (
        encode_typed_bytes([1, "a"])
        == b"\x08\x00\x00\x00\x02" + b"\x03\x00\x00\x00\x01" + b"\x07\x01a"
    )
    # LIST: frames + 0xFF marker
    assert encode_typed_bytes((True,)) == b"\x09\x02\x01\xff"
    # MAP: int32 count + key/value frames
    assert (
        encode_typed_bytes({"k": 7})
        == b"\x0a\x00\x00\x00\x01" + b"\x07\x01k" + b"\x03\x00\x00\x00\x07"
    )


def test_frame_decode_arms():
    """Decoder covers the read-only arms too (BYTE, FLOAT) and rejects
    application codes like the reference's default case."""
    v, pos = decode_typed_bytes(b"\x01\xf6")  # BYTE -10
    assert (v, pos) == (-10, 2)
    v, _ = decode_typed_bytes(b"\x05" + struct.pack(">f", 0.25))
    assert v == 0.25
    with pytest.raises(ValueError, match="type code 50"):
        decode_typed_bytes(b"\x32\x00")


def test_roundtrip_property():
    """Random nested values survive encode->decode exactly (long
    strings exercise multi-byte vints past 127)."""
    rng = random.Random(3)

    def value(depth: int):
        kinds = ["int", "long", "str", "bool", "float", "bytes"]
        if depth < 2:
            kinds += ["vec", "list", "map"]
        k = rng.choice(kinds)
        if k == "int":
            return rng.randint(-(2**31), 2**31 - 1)
        if k == "long":
            return rng.randint(2**31, 2**62)
        if k == "str":
            return "".join(rng.choice("abé日\t") for _ in range(rng.randint(0, 200)))
        if k == "bool":
            return rng.random() < 0.5
        if k == "float":
            return rng.random() * 1e9
        if k == "bytes":
            return bytes(rng.randint(0, 255) for _ in range(rng.randint(0, 40)))
        if k == "vec":
            return [value(depth + 1) for _ in range(rng.randint(0, 4))]
        if k == "list":
            return tuple(value(depth + 1) for _ in range(rng.randint(0, 4)))
        return {str(i): value(depth + 1) for i in range(rng.randint(0, 3))}

    for _ in range(300):
        v = value(0)
        enc = encode_typed_bytes(v)
        got, pos = decode_typed_bytes(enc)
        assert got == v and pos == len(enc), v


def test_concatenated_stream_positions():
    """Frames concatenate like the streaming wire (alternating
    key/value); positions thread exactly."""
    vals = [1, "x", [True, 2.5], {"a": (b"z",)}]
    stream = b"".join(encode_typed_bytes(v) for v in vals)
    pos, out = 0, []
    while pos < len(stream):
        v, pos = decode_typed_bytes(stream, pos)
        out.append(v)
    assert out == vals


def test_typed_bytes_seqfile_roundtrip(spark, sf_dir):
    """nation -> frames -> real SEQ v6 of TypedBytesWritable ->
    raw-reader read-back -> decode: values identical, header classes
    pinned, and the raw reader's BytesWritable unwrap verified against
    the frame bytes."""
    from hadoop_3_3_6_spark.session import load_table
    import tempfile

    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    frames = typed_bytes_frames(nation, "n_nationkey", ["n_name", "n_regionkey"])
    out = tempfile.mkdtemp(prefix="tbseq_")
    write_typed_bytes_seqfile(frames, out)
    # header classes pinned on disk
    import glob

    with open(sorted(glob.glob(f"{out}/part-*.seq"))[0], "rb") as f:
        head = f.read(200)
    assert TYPED_BYTES_WRITABLE.encode() in head

    back = read_raw_sequence_file(spark, out).collect()
    exp = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in nation.collect()}
    assert len(back) == len(exp)
    for r in back:
        k, kpos = decode_typed_bytes(bytes(r.key))
        v, _ = decode_typed_bytes(bytes(r.value))
        assert kpos == len(r.key)
        assert isinstance(v, list) and tuple(v) == exp[k]
        # the raw payload IS the frame the encoder produced
        assert bytes(r.key) == encode_typed_bytes(k)


def test_walk_seq_records_sync_escapes():
    """The raw walker must skip `-1` + sync escapes exactly where the
    sink emits them (every _SYNC_INTERVAL bytes) — pure-python round
    trip of a hand-built file large enough to cross several sync
    boundaries, both for BytesWritable framing (payload unwrapped) and
    Text framing (raw wire bytes returned as-is)."""
    import struct
    import uuid

    from hadoop_3_3_6_spark.sources.seqfile import (
        _SYNC_INTERVAL,
        _enc_bytes,
        _enc_text,
        encode_sequence_file_header,
        walk_seq_records,
    )
    from hadoop_3_3_6_spark.sources.typedbytes import (
        TYPED_BYTES_WRITABLE,
        encode_typed_bytes,
    )

    sync = uuid.uuid4().bytes

    def build(key_cls, val_cls, enc, pairs):
        buf = bytearray(encode_sequence_file_header(key_cls, val_cls, sync))
        since = 0
        for k, v in pairs:
            kb, vb = enc(k), enc(v)
            if since >= _SYNC_INTERVAL:
                buf += b"\xff\xff\xff\xff" + sync
                since = 0
            rec = struct.pack(">ii", len(kb) + len(vb), len(kb)) + kb + vb
            buf += rec
            since += len(rec)
        return bytes(buf)

    # typed-bytes framing: payloads unwrap to the frame
    pairs = [(encode_typed_bytes(i), encode_typed_bytes(f"value-{i}" * 7)) for i in range(400)]
    data = build(TYPED_BYTES_WRITABLE, TYPED_BYTES_WRITABLE, _enc_bytes, pairs)
    assert data.count(b"\xff\xff\xff\xff" + sync) >= 3  # crossed boundaries
    got = list(walk_seq_records(data))
    assert got == pairs

    # Text framing: raw wire bytes (vint+utf8) come back unstripped
    tpairs = [(f"k{i}", f"v{i}" * 20) for i in range(300)]
    data = build("org.apache.hadoop.io.Text", "org.apache.hadoop.io.Text", _enc_text, tpairs)
    got = list(walk_seq_records(data))
    assert got == [(_enc_text(k), _enc_text(v)) for k, v in tpairs]

    # corrupted sync must fail loudly
    bad = data.replace(sync, uuid.uuid4().bytes, 2)  # header sync stays, escape differs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sync marker mismatch"):
        list(walk_seq_records(bad))


def test_walk_seq_records_truncated_at_every_offset():
    """A SEQ file cut at any byte either reads as the whole records
    before the cut (a cut between two records) or raises ValueError: a
    cut header or record never yields a partial record or a bare
    struct.error."""
    import uuid

    from hadoop_3_3_6_spark.sources.seqfile import (
        _enc_text,
        encode_sequence_file_header,
        walk_seq_records,
    )

    text = "org.apache.hadoop.io.Text"
    data = bytearray(encode_sequence_file_header(text, text, uuid.uuid4().bytes))
    boundaries, pairs = [len(data)], []
    for i in range(5):
        kb, vb = _enc_text(f"k{i}"), _enc_text(f"value {i}")
        data += struct.pack(">ii", len(kb) + len(vb), len(kb)) + kb + vb
        boundaries.append(len(data))
        pairs.append((kb, vb))
    data = bytes(data)
    assert list(walk_seq_records(data)) == pairs
    for cut in range(len(data)):
        if cut in boundaries:
            assert list(walk_seq_records(data[:cut])) == pairs[: boundaries.index(cut)]
        else:
            with pytest.raises(ValueError):
                list(walk_seq_records(data[:cut]))


def _child(script: str) -> list:
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prelude = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from hadoop_3_3_6_spark.sources.typedbytes import (\n"
        "    decode_typed_bytes, encode_typed_bytes, read_typed_bytes_frame)\n"
        "inp, out = sys.stdin.buffer, sys.stdout.buffer\n"
    )
    return [sys.executable, "-c", prelude + script]


def test_pipe_typed_bytes_echo_large_stream(spark):
    """A child that echoes every frame while the feed is still being
    written — enough data to overflow both pipe buffers, so this
    deadlocks unless input is fed from a separate thread; values
    survive bit-exactly."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.sources.typedbytes import (
        decode_typed_bytes,
        pipe_typed_bytes,
        typed_bytes_frames,
    )

    df = spark.range(0, 20_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    frames = typed_bytes_frames(df, "id", ["pad"])
    echo = _child(
        "while True:\n"
        "    kf = read_typed_bytes_frame(inp)\n"
        "    if kf is None:\n"
        "        break\n"
        "    vf = read_typed_bytes_frame(inp)\n"
        "    out.write(kf); out.write(vf)\n"
        "out.flush()\n"
    )
    back = pipe_typed_bytes(frames, echo).collect()
    assert len(back) == 20_000
    seen = {}
    for r in back:
        k, _ = decode_typed_bytes(bytes(r.key))
        v, _ = decode_typed_bytes(bytes(r.value))
        seen[k] = v[0]
    import hashlib

    assert seen[7] == hashlib.sha256(b"7").hexdigest()
    assert set(seen) == set(range(20_000))


def test_pipe_typed_bytes_child_failure_is_loud(spark):
    """Nonzero child exit fails the job (MRErrorThread semantics), and
    a key frame without its value frame is a protocol error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.sources.typedbytes import (
        pipe_typed_bytes,
        typed_bytes_frames,
    )

    df = spark.range(0, 10).select(F.col("id"), F.col("id").cast("string").alias("s"))
    frames = typed_bytes_frames(df, "id", ["s"])

    with _pytest.raises(Exception, match="exited 3"):
        pipe_typed_bytes(frames, _child("sys.exit(3)\n")).collect()

    odd = _child("out.write(encode_typed_bytes('lonely-key'))\nout.flush()\n")
    with _pytest.raises(Exception, match="without a value frame"):
        pipe_typed_bytes(frames, odd).collect()


def test_pipe_raw_bytes_mode(spark):
    """-io rawbytes (RawBytesInputWriter.java:57-63): int32 length +
    raw payload each way — the child sees the payloads with length
    framing, emits the same, and the engine strips the framing back
    off.  Binary-unsafe text pipes can't carry these payloads (they
    contain newlines and NULs)."""
    from pyspark.sql import functions as F

    from hadoop_3_3_6_spark.sources.typedbytes import pipe_typed_bytes

    rows = [(bytes([i, 0, 10, 13, 255 - i]), bytes([i]) * (i + 1)) for i in range(50)]
    df = spark.createDataFrame(rows, "key binary, value binary")
    child = _child(
        "import struct\n"
        "def rd():\n"
        "    h = inp.read(4)\n"
        "    if not h: return None\n"
        "    return inp.read(struct.unpack('>i', h)[0])\n"
        "while True:\n"
        "    k = rd()\n"
        "    if k is None: break\n"
        "    v = rd()\n"
        "    for b in (k, v[::-1]):\n"  # reverse the value: prove the child saw payloads
        "        out.write(struct.pack('>i', len(b)) + b)\n"
        "out.flush()\n"
    )
    back = pipe_typed_bytes(df, child, io="rawbytes").collect()
    got = {bytes(r.key): bytes(r.value) for r in back}
    assert got == {k: v[::-1] for k, v in rows}


def test_pipe_rejects_wrong_columns(spark):
    """The pipe validates its (key, value) frame contract at plan time
    — a mis-shaped frame would otherwise fail obscurely inside the
    feeder thread."""
    import pytest as _pytest

    from hadoop_3_3_6_spark.sources.typedbytes import pipe_typed_bytes

    df = spark.createDataFrame([(b"a", b"b")], "k binary, v binary")
    with _pytest.raises(ValueError, match="key, value"):
        pipe_typed_bytes(df, ["true"])
