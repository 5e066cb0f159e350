"""Shared file plumbing for the hand-written Python DataSources
(Spark 4 ``pyspark.sql.datasource`` API), so seqfile, avrofile, warc,
wavfiles, token shards and versioned tables keep only their codecs.

Input, the FileInputFormat analogue (FileInputFormat.java:1):
``list_data_files`` is the one rule for which files an input path
names (a ``.``/``_``-prefixed name — task temp file, ``_SUCCESS``,
``_temporary`` — is never data); ``FilePartition`` is a one-file split;
``PathFilteredReader`` prunes the listing by pushed ``path`` predicates.

Output, the FileOutputCommitter analogue (FileOutputCommitter.java:51):
``prepare_sink_dir``, then per task ``publish_part`` (hidden temp file
+ atomic rename to a deterministic ``part-*`` name: a retried task
overwrites its earlier attempt, no reader lists half a part, an empty
partition publishes nothing), then ``commit_parts`` (``_SUCCESS``
manifest) or ``abort_parts``.  ``publish_file`` is the
temp-then-rename step for any single file.

The ``wavfiles`` format yields one row per WAV file, (path,
sample_rate, n_channels, n_samples, payload), one file per partition
(parallelism = file count); ``metadata_only=true`` skips the payload.
"""

from __future__ import annotations

import glob as _glob
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
    StringStartsWith,
    WriterCommitMessage,
)

# --- input side ------------------------------------------------------------


def list_data_files(path: str, exts: str | tuple[str, ...]) -> list[str]:
    """The data files an input ``path`` names: a wildcard path's sorted
    glob, a directory's sorted entries ending in one of ``exts``, any
    other path itself — never a name starting with ``.`` or ``_``."""
    if any(c in path for c in "*?["):
        paths = sorted(_glob.glob(path))
    elif os.path.isdir(path):
        paths = sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(exts))
    else:
        paths = [path]
    return [p for p in paths if not os.path.basename(p).startswith((".", "_"))]


def option_flag(options: dict, name: str, default: bool = False) -> bool:
    return str(options.get(name, default)).lower() == "true"


class FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class PathFilteredReader(DataSourceReader):
    """Reader base for a one-file-per-partition source with a ``path``
    column.  ``path`` equality and prefix predicates are consumed by
    ``pushFilters`` and applied to the file LISTING, so pruned files
    are never opened and never become partitions; everything else is
    returned for Spark to evaluate post-scan.  Also parses the shared
    ``metadata_only`` option.  Subclasses set ``fmt`` (the name in
    error messages) and ``exts`` (a directory's data extensions) and
    implement ``read``."""

    fmt = ""
    exts: tuple[str, ...] = ()

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.fmt} source requires a path")
        self.metadata_only = option_flag(options, "metadata_only")
        self._path_filters: list = []

    def pushFilters(self, filters):
        remaining = []
        for f in filters:
            if isinstance(f, (EqualTo, StringStartsWith)) and tuple(f.attribute) == ("path",):
                self._path_filters.append(f)
            else:
                remaining.append(f)
        return remaining

    def _keep(self, p: str) -> bool:
        for f in self._path_filters:
            if isinstance(f, EqualTo) and p != f.value:
                return False
            if isinstance(f, StringStartsWith) and not p.startswith(f.value):
                return False
        return True

    def partitions(self):
        paths = list_data_files(self.path, self.exts)
        if not paths:
            raise FileNotFoundError(f"no {self.fmt} files match {self.path}")
        return [FilePartition(p) for p in paths if self._keep(p)]


# --- output side -----------------------------------------------------------


class PartCommit(WriterCommitMessage):
    """A task's commit message: its published part file ("" for an
    empty partition) and the row count it holds."""

    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


def _is_task_temp(name: str) -> bool:
    return name.startswith(".part-") and name.endswith(".tmp")


def prepare_sink_dir(path: str | None, overwrite: bool, fmt: str) -> str:
    """Job setup: create the output directory; on overwrite remove the
    previous job's parts, its ``_SUCCESS`` and stale task temp files."""
    if not path:
        raise ValueError(f"{fmt} sink requires a path")
    os.makedirs(path, exist_ok=True)
    if overwrite:
        for n in os.listdir(path):
            if n.startswith("part-") or n == "_SUCCESS" or _is_task_temp(n):
                os.remove(os.path.join(path, n))
    return path


def publish_file(final: str, write_fn) -> int:
    """Publish ``final`` whole or not at all.  ``write_fn(f)`` writes
    into a hidden unique temp file beside it (binary mode) and returns
    how much it wrote; a non-zero amount is atomically renamed onto
    ``final``.  Zero, or an exception, removes the temp file and leaves
    ``final`` untouched.  Returns ``write_fn``'s amount."""
    d, name = os.path.split(final)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        with open(tmp, "wb") as f:
            n = write_fn(f)
        if n:
            os.replace(tmp, final)
        return n
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def publish_part(path: str, name: str, write_fn) -> PartCommit:
    """Task commit: publish part file ``name`` under ``path`` through
    ``publish_file``, where ``write_fn`` returns the row count."""
    final = os.path.join(path, name)
    n = publish_file(final, write_fn)
    return PartCommit(final if n else "", n)


def commit_parts(path: str, messages) -> None:
    """Job commit: the ``_SUCCESS`` manifest lists the committed parts."""
    kept = [os.path.basename(m.path) for m in messages if m and m.n]
    with open(os.path.join(path, "_SUCCESS"), "w") as f:
        f.write("\n".join(kept))


def abort_parts(path: str, messages) -> None:
    """Job abort: remove the parts the job's tasks published and any
    task temp file still present."""
    for m in messages:
        if m and m.path and os.path.exists(m.path):
            os.remove(m.path)
    for n in os.listdir(path):
        if _is_task_temp(n):
            os.remove(os.path.join(path, n))


# --- wavfiles ----------------------------------------------------------------


class WavDataSourceReader(PathFilteredReader):
    fmt = "wav"
    exts = (".wav",)

    def read(self, partition):
        from hadoop_3_3_6_spark.functions.multimodal import decode_wav

        with open(partition.path, "rb") as f:
            payload = f.read()
        samples, rate = decode_wav(payload)
        yield (
            partition.path,
            rate,
            int(samples.shape[1]),
            int(samples.shape[0]),
            None if self.metadata_only else payload,
        )


class WavDataSource(DataSource):
    """``wavfiles`` format: distributed WAV corpus reader."""

    @classmethod
    def name(cls) -> str:
        return "wavfiles"

    def schema(self) -> str:
        return "path string, sample_rate int, n_channels int, n_samples int, payload binary"

    def reader(self, schema) -> WavDataSourceReader:
        return WavDataSourceReader(self.options)


def register_wav_source(spark) -> None:
    """Idempotently register the ``wavfiles`` format on this session
    (re-pinning the JVM active session, see session.pin_active_session)."""
    from hadoop_3_3_6_spark.session import pin_active_session

    pin_active_session(spark)
    spark.dataSource.register(WavDataSource)
