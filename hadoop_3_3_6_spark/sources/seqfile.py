"""The uncompressed SequenceFile v6 format in one module: the SINK as a
Python DataSource with Arrow batches — the high-throughput replacement
for the pickled-RDD legacy path in ``containers.write_sequence_file``
— and its inverse, the raw record walker (``walk_seq_records``) that
``typedbytes.read_raw_sequence_file`` runs per file.

The reference's SequenceFile.Writer (hadoop-common .../io/
SequenceFile.java:847) writes the public container format: SEQ magic +
version, key/value Writable class names, sync-marked record stream.
This sink produces the same on-disk format from a pure-Python encoder
(implementing the published format spec in SequenceFile.java's class
javadoc, not translating its code), but runs it EXECUTOR-SIDE over
Arrow record batches (``DataSourceArrowWriter``): rows never transit
the driver, never pickle through a Python RDD, and each task streams
its partition straight to one ``part-NNNNN.seq`` file.

Conformance: files written here are read back by Hadoop's own Java
SequenceFile.Reader (via ``sc.sequenceFile``) in tests/test_containers.py
— the same cross-engine oracle the Avro codec uses.

Write protocol: the shared part-file commit protocol in
``sources/pydatasource.py`` (FileOutputCommitter analogue), publishing
one ``part-{pid:05d}.seq`` per partition.

Scale: one file per partition, encode CPU fully parallel, no driver
data path.  Uncompressed records only (sync markers keep the files
splittable); for codec output hand off to the legacy converter path in
``containers.write_sequence_file`` (documented there).
"""

from __future__ import annotations

import struct
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceArrowWriter

from hadoop_3_3_6_spark.sources.pydatasource import (
    abort_parts,
    commit_parts,
    prepare_sink_dir,
    publish_part,
)

_SYNC_INTERVAL = 2000  # bytes between sync markers (100 * SYNC_SIZE, per spec)


def _vint(i: int) -> bytes:
    """Hadoop WritableUtils variable-length integer encoding (public
    format: single byte for -112..127, else a length-prefix byte)."""
    if -112 <= i <= 127:
        return struct.pack("b", i)
    ln = -112
    if i < 0:
        i ^= -1
        ln = -120
    tmp = i
    while tmp != 0:
        tmp >>= 8
        ln -= 1
    out = bytearray(struct.pack("b", ln))
    ln = -(ln + 120) if ln < -120 else -(ln + 112)
    for idx in range(ln - 1, -1, -1):
        out.append((i >> (8 * idx)) & 0xFF)
    return bytes(out)


def _need(data: bytes, pos: int, size: int, what: str) -> None:
    """Raise ValueError unless ``size`` bytes of ``what`` start at
    ``pos`` inside ``data``."""
    if size < 0 or pos + size > len(data):
        raise ValueError(
            f"truncated SequenceFile: {what} at byte {pos} needs {size} bytes, "
            f"{len(data) - pos} left"
        )


def _read_vint(data: bytes, pos: int) -> tuple[int, int]:
    """WritableUtils.readVInt (_vint inverted); ValueError if the
    integer runs past the end of ``data``."""
    _need(data, pos, 1, "vint")
    first = struct.unpack_from("b", data, pos)[0]
    pos += 1
    if -112 <= first:
        return first, pos
    ln = -(first + 120) if first < -120 else -(first + 112)
    _need(data, pos, ln, "vint")
    v = 0
    for _ in range(ln):
        v = (v << 8) | data[pos]
        pos += 1
    if first < -120:
        v = ~v
    return v, pos


def _enc_text(v) -> bytes:
    b = str(v).encode("utf-8")
    return _vint(len(b)) + b


def _enc_bytes(v) -> bytes:
    b = bytes(v)
    return struct.pack(">i", len(b)) + b


# Spark SQL type -> (Writable class name, value serializer).  The
# serializations are the Writable wire formats (Text: vint+utf8;
# BytesWritable: int+bytes; numeric: big-endian fixed width).
_WRITABLES = {
    "string": ("org.apache.hadoop.io.Text", _enc_text),
    "binary": ("org.apache.hadoop.io.BytesWritable", _enc_bytes),
    "bigint": ("org.apache.hadoop.io.LongWritable", lambda v: struct.pack(">q", int(v))),
    "int": ("org.apache.hadoop.io.IntWritable", lambda v: struct.pack(">i", int(v))),
    "double": ("org.apache.hadoop.io.DoubleWritable", lambda v: struct.pack(">d", float(v))),
    "float": ("org.apache.hadoop.io.FloatWritable", lambda v: struct.pack(">f", float(v))),
    "boolean": ("org.apache.hadoop.io.BooleanWritable", lambda v: struct.pack(">?", bool(v))),
}


def _writable_for(sql_type: str):
    if sql_type not in _WRITABLES:
        raise ValueError(
            f"no Writable mapping for column type {sql_type!r}; cast to one of "
            f"{sorted(_WRITABLES)} first"
        )
    return _WRITABLES[sql_type]


def encode_sequence_file_header(key_cls: str, val_cls: str, sync: bytes) -> bytes:
    """SEQ v6 header for an uncompressed file (public format:
    SequenceFile.java class javadoc)."""
    out = bytearray(b"SEQ\x06")
    out += _enc_text(key_cls)
    out += _enc_text(val_cls)
    out += b"\x00\x00"  # compression? / block compression? -> no
    out += struct.pack(">i", 0)  # metadata: zero TreeMap entries
    out += sync
    return bytes(out)


def walk_seq_records(data: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Walk one uncompressed SEQ v6 file's raw records (the pure
    record framing: int32 record length / int32 key length / key bytes
    / value bytes, with ``-1`` + 16-byte sync escapes between records
    — SequenceFile.java's Writer.sync layout, the same framing the
    sink emits).  Yields (key, value) raw payloads; BytesWritable-
    framed payloads (incl. TypedBytesWritable) are unwrapped to the
    payload like nextRawValue's ValueBytes.  A header or record that
    runs past the end of ``data`` raises ValueError; a file cut exactly
    between two records reads as the records before the cut."""
    if data[:4] != b"SEQ\x06":
        raise ValueError("not a SEQ v6 file")
    pos = 4
    kcls, pos = _read_vint(data, pos)
    _need(data, pos, kcls, "key class name")
    kcls_name = data[pos : pos + kcls].decode()
    pos += kcls
    vcls, pos = _read_vint(data, pos)
    _need(data, pos, vcls, "value class name")
    vcls_name = data[pos : pos + vcls].decode()
    pos += vcls
    _need(data, pos, 2 + 4 + 16, "header flags, metadata and sync")
    if data[pos] or data[pos + 1]:
        raise ValueError("compressed SequenceFiles unsupported here")
    pos += 2
    (nmeta,) = struct.unpack_from(">i", data, pos)
    if nmeta:
        raise ValueError("metadata TreeMap unsupported here")
    pos += 4
    sync = data[pos : pos + 16]
    pos += 16
    # TypedBytesWritable IS a BytesWritable, so one suffix test covers
    # both framings
    bytes_framed = kcls_name.endswith("BytesWritable") and vcls_name.endswith(
        "BytesWritable"
    )
    n = len(data)
    while pos < n:
        _need(data, pos, 4, "record length")
        (rec_len,) = struct.unpack_from(">i", data, pos)
        if rec_len == -1:  # sync escape
            _need(data, pos, 20, "sync escape")
            if data[pos + 4 : pos + 20] != sync:
                raise ValueError("sync marker mismatch")
            pos += 20
            continue
        _need(data, pos, 8, "record header")
        (key_len,) = struct.unpack_from(">i", data, pos + 4)
        if not 0 <= key_len <= rec_len:
            raise ValueError(
                f"corrupt SequenceFile record at byte {pos}: key length {key_len} of {rec_len}"
            )
        pos += 8
        _need(data, pos, rec_len, "record")
        kb = data[pos : pos + key_len]
        vb = data[pos + key_len : pos + rec_len]
        pos += rec_len
        if bytes_framed:  # strip the BytesWritable int32 length
            kb, vb = kb[4:], vb[4:]
        yield bytes(kb), bytes(vb)


class SeqFileArrowWriter(DataSourceArrowWriter):
    """Arrow-batched SequenceFile writer: one ``part-{pid:05d}.seq``
    per partition."""

    def __init__(self, options: dict, schema, overwrite: bool):
        fields = schema.fields
        if len(fields) < 2:
            raise ValueError("seqfile sink needs (key, value) columns")
        self.key_type = fields[0].dataType.simpleString()
        self.val_type = fields[1].dataType.simpleString()
        self.key_cls, self.key_enc = _writable_for(self.key_type)
        self.val_cls, self.val_enc = _writable_for(self.val_type)
        # optional header class-name overrides for Writable subclasses
        # that keep the wire format (e.g. TypedBytesWritable IS a
        # BytesWritable — TypedBytesWritable.java:32); the encoder
        # stays the one for the Spark column type
        opt = {k.lower(): v for k, v in options.items()}
        self.key_cls = opt.get("keyclass", self.key_cls)
        self.val_cls = opt.get("valueclass", self.val_cls)
        self.path = prepare_sink_dir(options.get("path"), overwrite, "seqfile")

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        return publish_part(self.path, f"part-{pid:05d}.seq", lambda f: self._encode(f, iterator))

    def _encode(self, f, iterator) -> int:
        sync = uuid.uuid4().bytes
        n = 0
        since_sync = 0
        kenc, venc = self.key_enc, self.val_enc
        f.write(encode_sequence_file_header(self.key_cls, self.val_cls, sync))
        for batch in iterator:
            keys = batch.column(0).to_pylist()
            vals = batch.column(1).to_pylist()
            buf = bytearray()
            for k, v in zip(keys, vals):
                if k is None or v is None:
                    raise ValueError(
                        "SequenceFile Writables are not nullable; coalesce/filter "
                        "null keys and values before writing"
                    )
                kb, vb = kenc(k), venc(v)
                if since_sync >= _SYNC_INTERVAL:
                    buf += b"\xff\xff\xff\xff" + sync
                    since_sync = 0
                rec = struct.pack(">ii", len(kb) + len(vb), len(kb)) + kb + vb
                buf += rec
                since_sync += len(rec)
                n += 1
            f.write(buf)
        return n

    def commit(self, messages):
        commit_parts(self.path, messages)

    def abort(self, messages):
        abort_parts(self.path, messages)


class SeqFileDataSource(DataSource):
    """``seqfile`` format: Arrow-batched SequenceFile sink."""

    @classmethod
    def name(cls) -> str:
        return "seqfile"

    def writer(self, schema, overwrite: bool) -> SeqFileArrowWriter:
        return SeqFileArrowWriter(self.options, schema, overwrite)


def register_seqfile_sink(spark) -> None:
    """Idempotently register the ``seqfile`` format on this session
    (re-pinning the JVM active session, see session.pin_active_session)."""
    from hadoop_3_3_6_spark.session import pin_active_session

    pin_active_session(spark)
    spark.dataSource.register(SeqFileDataSource)
