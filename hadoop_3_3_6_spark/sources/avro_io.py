"""Avro Object Container File read/write (SURVEY.md §2.1 Avro row).

Reference parity target: AvroSerialization / Avro container-file
exchange (hadoop-common-project/hadoop-common/src/main/java/org/apache/
hadoop/io/serializer/avro/AvroSerialization.java:1 under
/root/reference/) — the container format Hadoop jobs use to hand rows
between systems.

The spark-avro DataSource jar is not bundled in this environment, so
the codec is implemented here directly against the PUBLIC Avro 1.x
spec (container format: magic ``Obj\\x01``, metadata map with
``avro.schema``/``avro.codec``, sync-marker-delimited blocks; binary
encoding: zigzag-varint ints/longs, little-endian IEEE floats,
length-prefixed strings/bytes, union-index-prefixed unions).  It is
NOT a private re-implementation of a closed format — the files
interoperate with the real Java Avro library, and the test suite
proves it by reading our output through ``org.apache.avro.file.
DataFileReader`` from the avro-1.12.1 jar on Spark's classpath.

Scale shape: ``write_avro`` emits one container file per partition
inside executors (bytes never visit the driver), committed through
the shared part-file protocol in ``sources/pydatasource.py``;
``read_avro`` lists the input with the shared ``list_data_files`` rule
and decodes sync-marker-aligned byte-range splits on executors.

Supported schema surface: records of boolean / int / long / float /
double / string / bytes and their nullable unions — the primitive
surface AvroSerialization itself marshals.  ``null`` and ``deflate``
codecs (zlib is stdlib; snappy would need an external lib).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
)

from hadoop_3_3_6_spark.sources.pydatasource import (
    abort_parts,
    commit_parts,
    list_data_files,
    prepare_sink_dir,
    publish_part,
)

MAGIC = b"Obj\x01"

_SPARK_TO_AVRO = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.StringType(): "string",
    T.BinaryType(): "bytes",
}

_AVRO_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


def avro_schema_of(schema: T.StructType, name: str = "row") -> dict:
    """Map a Spark StructType to an Avro record schema (nullable fields
    become ``["null", T]`` unions, Avro's idiom for optionality)."""
    fields = []
    for f in schema.fields:
        try:
            avro_type: object = _SPARK_TO_AVRO[f.dataType]
        except KeyError:
            raise ValueError(f"unsupported Spark type for Avro: {f.dataType}") from None
        if f.nullable:
            avro_type = ["null", avro_type]
        fields.append({"name": f.name, "type": avro_type})
    return {"type": "record", "name": name, "fields": fields}


def spark_schema_of(avro_schema: dict) -> str:
    """DDL Spark schema for an Avro record schema."""
    cols = []
    for f in avro_schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T] union
            t = next(x for x in t if x != "null")
        cols.append(f"{f['name']} {_AVRO_TO_SPARK[t]}")
    return ", ".join(cols)


# --- binary encoding (Avro spec §"Binary Encoding") ----------------------


def _zigzag_encode(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _encode_value(out: io.BytesIO, v, avro_type) -> None:
    if isinstance(avro_type, list):  # union: write branch index, then value
        if v is None:
            _zigzag_encode(out, avro_type.index("null"))
            return
        branch = next(i for i, t in enumerate(avro_type) if t != "null")
        _zigzag_encode(out, branch)
        avro_type = avro_type[branch]
    if avro_type in ("int", "long"):
        _zigzag_encode(out, int(v))
    elif avro_type == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif avro_type == "float":
        out.write(struct.pack("<f", float(v)))
    elif avro_type == "double":
        out.write(struct.pack("<d", float(v)))
    elif avro_type == "string":
        raw = str(v).encode("utf-8")
        _zigzag_encode(out, len(raw))
        out.write(raw)
    elif avro_type == "bytes":
        raw = bytes(v)
        _zigzag_encode(out, len(raw))
        out.write(raw)
    else:  # pragma: no cover
        raise ValueError(f"unsupported Avro type {avro_type!r}")


def _decode_value(buf: bytes, pos: int, avro_type):
    if isinstance(avro_type, list):
        branch, pos = _zigzag_decode(buf, pos)
        avro_type = avro_type[branch]
        if avro_type == "null":
            return None, pos
    if avro_type in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if avro_type == "boolean":
        return buf[pos] == 1, pos + 1
    if avro_type == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if avro_type == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if avro_type == "string":
        n, pos = _zigzag_decode(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if avro_type == "bytes":
        n, pos = _zigzag_decode(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    raise ValueError(f"unsupported Avro type {avro_type!r}")  # pragma: no cover


def encode_container_header(avro_schema: dict, codec: str, sync: bytes) -> bytes:
    """Container-file header per the public spec: magic, metadata map
    (schema + codec), 16-byte sync marker."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"codec {codec!r} unsupported (null/deflate)")
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(avro_schema).encode(), "avro.codec": codec.encode()}
    _zigzag_encode(out, len(meta))
    for k, v in meta.items():
        _encode_value(out, k, "string")
        _encode_value(out, v, "bytes")
    _zigzag_encode(out, 0)  # end of metadata map
    out.write(sync)
    return out.getvalue()


def encode_container_block(rows: list[tuple], field_types: list, codec: str, sync: bytes) -> bytes:
    """One data block: row count, byte size, (optionally deflated)
    payload, trailing sync marker."""
    body = io.BytesIO()
    for row in rows:
        for v, t in zip(row, field_types):
            _encode_value(body, v, t)
    payload = body.getvalue()
    if codec == "deflate":
        payload = zlib.compress(payload)[2:-4]  # raw deflate per spec (no zlib header/checksum)
    out = io.BytesIO()
    _zigzag_encode(out, len(rows))
    _zigzag_encode(out, len(payload))
    out.write(payload)
    out.write(sync)
    return out.getvalue()


def encode_container(rows: list[tuple], avro_schema: dict, codec: str = "null", sync_seed: str = "") -> bytes:
    """Serialize rows as one single-block Avro Object Container File.
    The sync marker is derived deterministically from ``sync_seed`` so
    repeated writes are byte-identical (reproducible outputs)."""
    sync = hashlib.md5(f"spark-graft-avro:{sync_seed}".encode()).digest()
    field_types = [f["type"] for f in avro_schema["fields"]]
    out = encode_container_header(avro_schema, codec, sync)
    if rows:
        out += encode_container_block(rows, field_types, codec, sync)
    return out


def parse_container_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse a container header prefix → (schema, codec, sync,
    header_length).  header_length is the file offset of the first
    data block."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(data, pos)
        if count == 0:
            break
        if count < 0:  # block with byte-size prefix (spec allows)
            count = -count
            _, pos = _zigzag_decode(data, pos)
        for _ in range(count):
            k, pos = _decode_value(data, pos, "string")
            v, pos = _decode_value(data, pos, "bytes")
            meta[k] = v
    sync = data[pos : pos + 16]
    return json.loads(meta["avro.schema"]), meta.get("avro.codec", b"null").decode(), sync, pos + 16


def decode_container(data: bytes) -> tuple[dict, list[tuple]]:
    """Parse an Avro Object Container File into (schema, rows)."""
    schema, codec, sync, pos = parse_container_header(data)
    field_types = [f["type"] for f in schema["fields"]]
    rows: list[tuple] = []
    while pos < len(data):
        n_rows, pos = _zigzag_decode(data, pos)
        n_bytes, pos = _zigzag_decode(data, pos)
        block = data[pos : pos + n_bytes]
        pos += n_bytes
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec != "null":
            raise ValueError(f"codec {codec!r} unsupported")
        bpos = 0
        for _ in range(n_rows):
            vals = []
            for t in field_types:
                v, bpos = _decode_value(block, bpos, t)
                vals.append(v)
            rows.append(tuple(vals))
        if data[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
        pos += 16
    return schema, rows


# --- Spark integration ---------------------------------------------------


class AvroArrowWriter(DataSourceArrowWriter):
    """Arrow-batched Avro container sink: one multi-block container
    file per partition (one block per Arrow batch — bounded memory,
    unlike a buffer-the-partition single block), written executor-side
    with no pickled RDD and published as ``part-{pid:05d}.avro``
    through the shared part-file commit protocol
    (``sources/pydatasource.py``)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self.codec = options.get("codec", "null")
        if self.codec not in ("null", "deflate"):
            raise ValueError(f"codec {self.codec!r} unsupported (null/deflate)")
        self.avro_schema = avro_schema_of(schema)
        self.path = prepare_sink_dir(options.get("path"), overwrite, "avrofile")

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(f"spark-graft-avro:{self.path}:{pid}".encode()).digest()
        field_types = [f["type"] for f in self.avro_schema["fields"]]

        def encode(f) -> int:
            n = 0
            f.write(encode_container_header(self.avro_schema, self.codec, sync))
            for batch in iterator:
                rows = list(zip(*(batch.column(i).to_pylist() for i in range(batch.num_columns))))
                if rows:
                    f.write(encode_container_block(rows, field_types, self.codec, sync))
                    n += len(rows)
            return n

        return publish_part(self.path, f"part-{pid:05d}.avro", encode)

    def commit(self, messages):
        commit_parts(self.path, messages)

    def abort(self, messages):
        abort_parts(self.path, messages)


_ARROW_OF = {
    "boolean": "bool_",
    "int": "int32",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "bytes": "binary",
}


class _AvroSplit(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class AvroReader(DataSourceReader):
    """SPLIT-capable distributed Avro container reader — the
    sync-marker splitter the Hadoop DataFileReader uses
    (``DataFileReader.sync(position)`` semantics): each InputPartition
    is a byte range of one file; a reader whose range starts mid-file
    scans forward from ``start - 16`` for the 16-byte sync marker and
    owns every block whose offset lies in [start, end).  A multi-GB
    container therefore fans out across executors instead of landing
    on one (the round-2 documented trade-off, now closed).  Sync-value
    collision inside block payloads has the same 2^-128 odds the Java
    reader accepts.  Blocks decode straight to Arrow RecordBatches —
    no per-row pickling."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avrofile source requires a path")
        self.split_size = int(options.get("split_size", 32 * 1024 * 1024))

    def partitions(self):
        paths = list_data_files(self.path, ".avro")
        if not paths:
            raise FileNotFoundError(f"no avro files under {self.path!r}")
        parts = []
        for p in paths:
            size = os.path.getsize(p)
            start = 0
            while True:
                parts.append(_AvroSplit(p, start, min(start + self.split_size, size)))
                start += self.split_size
                if start >= size:
                    break
        return parts

    def read(self, partition):
        import pyarrow as pa

        with open(partition.path, "rb") as f:
            head = f.read(1 << 20)
            schema, codec, sync, hlen = parse_container_header(head)
            field_types = [fld["type"] for fld in schema["fields"]]
            names = [fld["name"] for fld in schema["fields"]]
            pa_types = []
            for t in field_types:
                base = next(x for x in t if x != "null") if isinstance(t, list) else t
                pa_types.append(getattr(pa, _ARROW_OF[base])())

            if partition.start <= hlen:
                pos = hlen
            else:
                pos = self._sync_forward(f, sync, max(partition.start - 16, hlen))
                if pos is None:
                    return
            f.seek(pos)
            buf = b""
            while pos < partition.end:
                # block frame: count varint, size varint, payload, sync
                while len(buf) < 20:
                    more = f.read(1 << 16)
                    if not more:
                        break
                    buf += more
                if not buf:
                    break
                count, off = _zigzag_decode(buf, 0)
                size, off = _zigzag_decode(buf, off)
                need = off + size + 16
                while len(buf) < need:
                    more = f.read(max(need - len(buf), 1 << 16))
                    if not more:
                        raise ValueError(f"truncated Avro block in {partition.path}")
                    buf += more
                block = buf[off : off + size]
                if buf[off + size : need] != sync:
                    raise ValueError(f"sync marker mismatch in {partition.path}")
                if codec == "deflate":
                    block = zlib.decompress(block, wbits=-15)
                cols: list[list] = [[] for _ in names]
                bpos = 0
                for _ in range(count):
                    for ci, t in enumerate(field_types):
                        v, bpos = _decode_value(block, bpos, t)
                        cols[ci].append(v)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=tp) for c, tp in zip(cols, pa_types)], names=names
                )
                pos += need
                buf = buf[need:]

    @staticmethod
    def _sync_forward(f, sync: bytes, scan_from: int) -> int | None:
        """File offset just past the first sync marker whose start
        offset is >= scan_from (None if no further marker)."""
        f.seek(scan_from)
        carry = b""
        base = scan_from
        while True:
            chunk = f.read(1 << 20)
            if not chunk:
                return None
            data = carry + chunk
            hit = data.find(sync)
            if hit != -1:
                return base - len(carry) + hit + 16
            carry = data[-15:]
            base += len(chunk)


class AvroFileDataSource(DataSource):
    """``avrofile`` format: Arrow-batched Avro container sink + the
    split-capable distributed reader."""

    @classmethod
    def name(cls) -> str:
        return "avrofile"

    def schema(self) -> str:
        with open(AvroReader(self.options).partitions()[0].path, "rb") as f:
            schema, _, _, _ = parse_container_header(f.read(1 << 20))
        return spark_schema_of(schema)

    def reader(self, schema) -> AvroReader:
        return AvroReader(self.options)

    def writer(self, schema, overwrite: bool) -> AvroArrowWriter:
        return AvroArrowWriter(self.options, schema, overwrite)


def register_avro_sink(spark) -> None:
    """Idempotently register the ``avrofile`` format on this session
    (and re-pin it as the JVM active session — lookup reads the ACTIVE
    session's manager, see session.pin_active_session)."""
    from hadoop_3_3_6_spark.session import pin_active_session

    pin_active_session(spark)
    spark.dataSource.register(AvroFileDataSource)


def write_avro(df: DataFrame, path: str, codec: str = "null") -> int:
    """Write ``df`` as a directory of Avro container files, one per
    partition, encoded inside executors over Arrow batches (the
    ``avrofile`` DataSource sink above — no pickled RDD, proper
    commit/abort protocol).  Returns files written."""
    register_avro_sink(df.sparkSession)
    df.write.format("avrofile").option("codec", codec).mode("overwrite").save(path)
    return len(list_data_files(os.path.join(path, "part-*.avro"), ".avro"))


def read_avro(spark: SparkSession, path: str, split_size: int | None = None) -> DataFrame:
    """Read a directory or wildcard path of Avro container files as a DataFrame
    through the split-capable ``avrofile`` reader: schema from one
    driver-side header peek, then one InputPartition per ~32 MB byte
    range per file (sync-marker alignment), blocks decoded straight to
    Arrow batches on executors.  A multi-GB container fans out instead
    of landing on one task."""
    register_avro_sink(spark)
    reader = spark.read.format("avrofile")
    if split_size is not None:
        reader = reader.option("split_size", str(split_size))
    return reader.load(path)


