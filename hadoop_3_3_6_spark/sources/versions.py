"""Versioned parquet tables — a minimal time-travel layer over plain
parquet directories (the lakehouse-table-format idea reduced to its
load-bearing core: immutable version directories + an atomic latest
pointer).  Pairs with ``operators/joins.merge_upsert`` (each MERGE
result becomes the next version) and ``writers.compact_files``
(compaction rewrites a version's files, not history).

Layout:

    table/
      v=00001/part-*.parquet
      v=00002/part-*.parquet
      _latest            <- contains "2" (written atomically via rename)

Readers pin a version (audit, reproducible training runs — WHICH
corpus snapshot trained this model is exactly this pointer) or follow
``_latest``.  Writers never mutate a committed version, so concurrent
readers are never torn: the pointer flips only after the new
version's write completes (same publish-by-rename contract as
FileOutputCommitter).  ``vacuum`` drops versions older than a
retention count, never the pointed-to one.

Scale notes: the data path is ordinary distributed parquet write/scan
— this layer adds one tiny pointer file and directory naming; at
1000 executors nothing about it is different.  Version listing is
driver-side metadata, bounded by version count.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from hadoop_3_3_6_spark.sources.pydatasource import publish_file

_V_RE = re.compile(r"^v=(\d{5})$")


def _versions(path: str, committed_only: bool = False) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for n in os.listdir(path):
        m = _V_RE.match(n)
        if m and (not committed_only or _is_committed(os.path.join(path, n))):
            out.append(int(m.group(1)))
    return sorted(out)


def _is_committed(vdir: str) -> bool:
    """A version dir is committed when Spark's job-success marker is
    present — a write that died mid-job leaves part files but no
    _SUCCESS, and must never be a time-travel target."""
    return os.path.isfile(os.path.join(vdir, "_SUCCESS"))


def latest_version(path: str) -> int | None:
    """The committed version the ``_latest`` pointer names (None for a
    fresh table).  Falls back to the highest COMMITTED version dir if
    the pointer is missing (pointer lost after commit — the data is
    still published history; a committed-but-unpointed newest version
    is simply the last successful write whose flip was lost)."""
    ptr = os.path.join(path, "_latest")
    if os.path.isfile(ptr):
        return int(open(ptr).read().strip())
    vs = _versions(path, committed_only=True)
    return vs[-1] if vs else None


def write_version(df: DataFrame, path: str) -> int:
    """Publish ``df`` as the table's next version: write the parquet
    under ``v=NNNNN``, then atomically flip ``_latest`` (the shared
    ``publish_file`` temp-then-rename step).  Returns the new version
    number.

    SINGLE-WRITER publish contract (round-9 review note): two
    concurrent ``write_version`` calls can pick the same next number —
    the later completer overwrites the earlier's directory and wins
    the pointer flip.  Readers are still never torn (the pointer only
    ever names a completed write), but writers must serialize
    externally — the same contract as every rename-published layout;
    optimistic-concurrency commit logs are the lakehouse formats'
    answer and out of this minimal layer's scope."""
    os.makedirs(path, exist_ok=True)
    # next number from ALL version dirs (torn ones included — never
    # reuse their number); a torn dir in the way is overwritten
    vs = _versions(path)
    nxt = (vs[-1] if vs else 0) + 1
    vdir = os.path.join(path, f"v={nxt:05d}")
    df.write.mode("overwrite").parquet(vdir)
    publish_file(os.path.join(path, "_latest"), lambda f: f.write(str(nxt).encode()))
    return nxt


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Scan one table version (default: the ``_latest`` pointer).
    Refuses torn (uncommitted) version dirs — a write that crashed
    mid-job must never read as a partial snapshot."""
    v = version if version is not None else latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed version in {path}")
    vdir = os.path.join(path, f"v={v:05d}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"version {v} not present in {path}")
    if not _is_committed(vdir):
        raise FileNotFoundError(f"version {v} in {path} is uncommitted (torn write)")
    return spark.read.parquet(vdir)


def vacuum(path: str, keep: int = 3) -> list[int]:
    """Drop all but the newest ``keep`` COMMITTED versions (never the
    one ``_latest`` points at); torn dirs are swept only when their
    number is BELOW the newest committed version — an uncommitted dir
    numbered above it is an in-flight concurrent ``write_version``
    (parquet landing, _SUCCESS/pointer not yet flipped) and must be
    left for its writer to finish, never rmtree'd mid-write.  Returns
    the versions removed."""
    cur = latest_version(path)
    vs = _versions(path, committed_only=True)
    newest_committed = vs[-1] if vs else 0
    keep_set = set(vs[-keep:]) if keep > 0 else set()
    committed = set(vs)
    drop = [
        v
        for v in _versions(path)
        if v != cur
        and v not in keep_set
        and (v in committed or v < newest_committed)
    ]
    for v in drop:
        shutil.rmtree(os.path.join(path, f"v={v:05d}"), ignore_errors=True)
    return drop
