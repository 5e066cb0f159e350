"""WARC (ISO 28500 / WARC/1.0) corpus ingestion — the standard web
archive container behind Common-Crawl-style LLM training corpora, as a
custom Python DataSource (same Spark 4 ``pyspark.sql.datasource``
surface as the wavfiles source; FileInputFormat analogue:
MRC/mapreduce/lib/input/FileInputFormat.java:1 computes splits
driver-side, record readers run executor-side).

``spark.read.format("warc").load(path)`` yields one row per WARC
record: (path, record_id, warc_type, target_uri, warc_date,
content_type, content_length, payload).  Options:

- ``metadata_only=true`` — never ship block bytes (header scan).
- ``record_types=response,conversion`` — record-type filter applied
  INSIDE the record reader, so filtered records never cross the
  Python→JVM boundary (the scan-level filter a warc_type predicate
  would otherwise apply post-Arrow).

``.warc.gz`` files are read through gzip; the common
one-gzip-member-per-record layout concatenates transparently.

Scale notes: listing is driver-side (InMemoryFileIndex analogue; the
shared ``list_data_files`` rule in ``sources/pydatasource.py``); each
FILE is one InputPartition because WARC is a sequential record stream
(and .warc.gz is only splittable at member boundaries, which require
an index) — the same non-splittable contract as gzip TextInputFormat
in the reference (io/compress/GzipCodec: no
SplittableCompressionCodec).  Parallelism therefore equals file count;
crawls ship thousands of ~1 GB segment files, which is exactly the
right granularity for a 1000-executor cluster.  Records stream one at
a time — a segment never materializes in memory.
"""

from __future__ import annotations

import gzip
import io
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
)

from hadoop_3_3_6_spark.sources.pydatasource import (
    FilePartition,
    PathFilteredReader,
    abort_parts,
    commit_parts,
    list_data_files,
    option_flag,
    prepare_sink_dir,
    publish_part,
)

_EXTS = (".warc", ".warc.gz")

_CRLF = b"\r\n"


def _encode_record(r: dict, compress: bool) -> bytes:
    """One WARC/1.0 record's bytes (optionally one gzip member)."""
    body = r.get("payload", b"")
    if isinstance(body, str):
        body = body.encode("utf-8")
    head = [b"WARC/1.0"]
    head.append(b"WARC-Type: " + r["warc_type"].encode())
    rid = r.get("record_id") or f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, r.get('target_uri', '') + r['warc_type'])}>"
    head.append(b"WARC-Record-ID: " + rid.encode())
    head.append(b"WARC-Date: " + r.get("date", "2020-01-01T00:00:00Z").encode())
    if r.get("target_uri"):
        head.append(b"WARC-Target-URI: " + r["target_uri"].encode())
    if r.get("content_type"):
        head.append(b"Content-Type: " + r["content_type"].encode())
    head.append(b"Content-Length: " + str(len(body)).encode())
    rec = _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF
    return gzip.compress(rec) if compress else rec


def encode_warc(records: list[dict], compress: bool = False) -> bytes:
    """Serialize records to WARC/1.0 bytes (spec-conformant framing:
    header block, CRLF blank line, Content-Length block bytes, two
    CRLFs).  Each record dict: warc_type, target_uri (optional),
    payload (bytes), content_type (optional), date (optional),
    record_id (optional).  ``compress=True`` emits one gzip member per
    record — the standard .warc.gz layout."""
    out = io.BytesIO()
    for r in records:
        out.write(_encode_record(r, compress))
    return out.getvalue()


def _write_records(f, rows, compress: bool) -> int:
    """Stream a partition's input rows into ``f`` record by record —
    never the whole segment (or the record dicts) in memory; shared by
    the batch and streaming writers so their accepted columns cannot
    diverge.  Returns the record count."""
    n = 0
    for row in rows:
        d = row.asDict()
        rec = {"warc_type": d.get("warc_type", "resource"), "payload": d.get("payload") or b""}
        for k in ("target_uri", "content_type", "record_id"):
            if d.get(k):
                rec[k] = d[k]
        if d.get("warc_date"):
            rec["date"] = d["warc_date"]
        f.write(_encode_record(rec, compress))
        n += 1
    return n


def iter_warc_records(stream, permissive: bool = False):
    """Stream (headers, block) pairs from a WARC byte stream.  Headers
    come back lower-cased; the block is exactly Content-Length bytes.
    Tolerates leading blank lines between records (the two-CRLF record
    separator).

    ``permissive=True`` is the crawl-reality mode (the reader analogue
    of SkipBadRecords / PERMISSIVE csv): a malformed record header, a
    bad Content-Length, or a TRUNCATED final block (a crawler or
    transfer died mid-record) ends the stream cleanly instead of
    raising — complete records before the corruption are kept."""
    while True:
        line = stream.readline()
        if not line:
            return
        if line in (b"\r\n", b"\n"):
            continue
        if not line.strip().startswith(b"WARC/"):
            if permissive:
                return
            raise ValueError(f"not a WARC record header: {line[:40]!r}")
        headers: dict[str, str] = {}
        last_key: str | None = None
        while True:
            hl = stream.readline()
            if hl in (b"\r\n", b"\n", b""):
                break
            text = hl.decode("utf-8", "replace")
            # ISO 28500 §4 named-field format follows RFC 5322 folding:
            # a line starting with SP/HT continues the PREVIOUS field's
            # value (long URIs fold in real crawls); parsing it as a new
            # field would both corrupt that header and invent a bogus key
            if text[:1] in (" ", "\t") and last_key is not None:
                headers[last_key] = (headers[last_key] + " " + text.strip()).strip()
                continue
            k, _, v = text.partition(":")
            last_key = k.strip().lower()
            headers[last_key] = v.strip()
        if "content-length" not in headers:
            # Content-Length is mandatory (ISO 28500 §5.3): without it
            # the record cannot be framed and the "block" would be parsed
            # as the next record's header — fail loudly, don't guess 0
            if permissive:
                return
            raise ValueError("WARC record missing mandatory Content-Length")
        try:
            n = int(headers["content-length"])
        except ValueError:
            if permissive:
                return
            raise
        if n < 0:
            # a negative length would make read() slurp the rest of the
            # segment into one garbage block and dodge the truncation check
            if permissive:
                return
            raise ValueError(f"negative Content-Length: {n}")
        block = stream.read(n)
        if len(block) < n:
            if permissive:
                return  # truncated tail record: drop it, keep the rest
            raise ValueError(f"truncated record: got {len(block)} of {n} bytes")
        yield headers, block


class WarcDataSourceReader(PathFilteredReader):
    fmt = "warc"
    exts = _EXTS

    def __init__(self, options: dict):
        super().__init__(options)
        self.permissive = option_flag(options, "permissive")
        types = options.get("record_types")
        self.record_types = {t.strip() for t in types.split(",")} if types else None

    def pushFilters(self, filters):
        """Besides the shared ``path`` pruning, ``warc_type`` equality
        narrows the in-reader record filter so skipped records never
        cross the Arrow boundary; Spark still re-checks it."""
        remaining = super().pushFilters(filters)
        for f in remaining:
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("warc_type",):
                wanted = {f.value}
                self.record_types = wanted if self.record_types is None else (self.record_types & wanted)
        return remaining

    def read(self, partition):
        """Executor-side record scan of one segment — the one parsing
        path, shared with ``WarcStreamReader``."""
        path = partition.path
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as f:
            for headers, block in iter_warc_records(f, permissive=self.permissive):
                wtype = headers.get("warc-type", "")
                if self.record_types is not None and wtype not in self.record_types:
                    continue
                yield (
                    path,
                    headers.get("warc-record-id", ""),
                    wtype,
                    headers.get("warc-target-uri"),
                    headers.get("warc-date", ""),
                    headers.get("content-type"),
                    len(block),
                    None if self.metadata_only else block,
                )


class WarcDataSource(DataSource):
    """``warc`` format: distributed WARC/1.0 record reader."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return (
            "path string, record_id string, warc_type string, target_uri string, "
            "warc_date string, content_type string, content_length long, payload binary"
        )

    def reader(self, schema) -> WarcDataSourceReader:
        return WarcDataSourceReader(self.options)

    def writer(self, schema, overwrite: bool) -> "WarcDataSourceWriter":
        return WarcDataSourceWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "WarcStreamWriter":
        return WarcStreamWriter(self.options)

    def streamReader(self, schema) -> "WarcStreamReader":
        return WarcStreamReader(self.options)


def register_warc_source(spark) -> None:
    """Idempotently register the ``warc`` format on this session
    (re-pinning the JVM active session, see session.pin_active_session)."""
    from hadoop_3_3_6_spark.session import pin_active_session

    pin_active_session(spark)
    spark.dataSource.register(WarcDataSource)


class WarcDataSourceWriter(DataSourceWriter):
    """Custom batch SINK through the same Python DataSource API — the
    FileOutputFormat analogue for WARC: each task serializes its
    partition to one segment file ``part-{pid:05d}.warc[.gz]``
    through the shared part-file commit protocol
    (``sources/pydatasource.py``): task output is visible on task
    success, and job atomicity comes from the ``_SUCCESS`` manifest,
    which readers needing atomicity should consult.

    Input rows need (warc_type, payload) and optionally target_uri /
    content_type / warc_date / record_id columns."""

    def __init__(self, options: dict, overwrite: bool):
        self.compress = option_flag(options, "compress", True)
        self.path = prepare_sink_dir(options.get("path"), overwrite, "warc")

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        ext = ".warc.gz" if self.compress else ".warc"
        return publish_part(
            self.path, f"part-{pid:05d}{ext}", lambda f: _write_records(f, iterator, self.compress)
        )

    def commit(self, messages):
        commit_parts(self.path, messages)

    def abort(self, messages):
        abort_parts(self.path, messages)


class WarcStreamWriter(DataSourceStreamWriter):
    """Custom STREAMING sink through the DataSource API — the
    micro-batch twin of ``WarcDataSourceWriter``: every epoch's tasks
    publish their partitions as segment files through the shared
    ``publish_part`` step (so a segment appears only when complete),
    the driver's per-epoch ``commit`` appends the segment names to an
    ``_epochs`` manifest (one line per committed batch — the
    idempotence record a restarted query checks), ``abort`` removes
    the failed epoch's files.  Same crash contract as the streaming
    file sink's metadata log."""

    def __init__(self, options: dict):
        self.compress = option_flag(options, "compress", True)
        path = options.get("path") or options.get("checkpointLocation_path")
        self.path = prepare_sink_dir(path, False, "warc stream")

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        ext = ".warc.gz" if self.compress else ".warc"
        # Deterministic name per (batchId, partition): a restarted query
        # re-executing a batch OVERWRITES its earlier attempt's segments
        # instead of landing a second uuid-named copy (replay
        # idempotence for directory readers, not just manifest
        # readers).  batchId prefix also keeps names monotonic across
        # epochs — the WarcStreamReader's high-water-mark contract.
        # MicroBatchExecution publishes the batch id as a job-local
        # property; fall back to uuid names if a runtime ever doesn't.
        batch = ctx.getLocalProperty("streaming.sql.batchId")
        if batch is not None:
            stem = f"part-{int(batch):08d}-{pid:05d}"
        else:  # pragma: no cover — property always set by micro-batch exec
            stem = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}"
        return publish_part(
            self.path, stem + ext, lambda f: _write_records(f, iterator, self.compress)
        )

    def commit(self, messages, batchId: int) -> None:
        epochs = os.path.join(self.path, "_epochs")
        if os.path.isfile(epochs):
            with open(epochs) as f:
                if any(line.split("\t", 1)[0] == str(batchId) for line in f):
                    # replayed epoch already committed: deterministic
                    # names mean this attempt overwrote the same
                    # segment files — keep the manifest single-lined
                    return
        kept = [os.path.basename(m.path) for m in messages if m and m.n]
        with open(epochs, "a") as f:
            f.write(f"{batchId}\t{','.join(kept)}\n")

    def abort(self, messages, batchId: int) -> None:
        abort_parts(self.path, messages)


class WarcStreamReader(DataSourceStreamReader):
    """DISTRIBUTED streaming WARC ingestion (the full
    ``DataSourceStreamReader`` contract, one step up from the simple
    driver-side reader in sources/streamsource.py): the driver only
    LISTS the segment directory per micro-batch — offsets are
    positions in the sorted file listing — and hands one
    InputPartition per newly-arrived segment to the executors, where
    the record parsing runs.  This is the continuous-crawl-ingestion
    shape: segment files land in a directory (a crawler, a
    distcp-style transfer), each micro-batch picks up exactly the new
    ones, and a restarted query replays any uncommitted span from the
    same deterministic listing (same recovery contract as Spark's
    FileStreamSource, without its per-file metadata log: WARC
    segments are immutable and sortable by name).

    Offsets are the HIGH-WATER-MARK FILE NAME, not a count: a batch
    covers the names in (start_name, end_name].  Names are stable
    under producer deletions of already-consumed segments (the
    retention policy ``commit`` invites) — a count-based offset would
    shift under deletion and silently skip or re-read files.

    Files must arrive with monotonically sorting names (part-00001,
    part-00002, … — what the WARC writers here produce); a file
    sorting BEFORE an already-consumed name would be missed, exactly
    like a backdated file under FileStreamSource's latestFirst=false
    with cleanup."""

    def __init__(self, options: dict):
        # the batch reader owns the options and the record parsing, so
        # schema and filter semantics cannot drift between the two
        self._segments = WarcDataSourceReader(options)
        self.path = self._segments.path

    def _listing(self):
        if not os.path.isdir(self.path):
            return []
        return [os.path.basename(p) for p in list_data_files(self.path, _EXTS)]

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        names = self._listing()
        return {"last": names[-1] if names else ""}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("last", ""), end.get("last", "")
        names = [n for n in self._listing() if lo < n <= hi]
        return [FilePartition(os.path.join(self.path, n)) for n in names]

    def read(self, partition):
        return self._segments.read(partition)

    def commit(self, end: dict) -> None:
        pass  # consumed files stay in place; retention is the producer's policy
