"""The part-file sortedness check for a sorted output.

Spark's read-back of a sorted parquet output packs small part files
into read partitions by size, not by name, so a check of partition
order (``sources.terasort.teravalidate``) can report a correctly sorted
output as unsorted.  ``part_files_sorted`` reads the part files one by
one in file-name order, the order the sort wrote them, and checks the
keys across them.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterable


def part_files(out_dir: str) -> list[str]:
    """Data files of a written dataset, in file-name order."""
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )


def keys_sorted(chunks: Iterable[list[str]]) -> bool:
    """True when the concatenation of ``chunks`` is non-decreasing."""
    last = None
    for keys in chunks:
        for k in keys:
            if last is not None and k < last:
                return False
            last = k
    return True


def record_checksum(keys: Iterable[str], values: Iterable[str]) -> int:
    """TeraChecksum: the sum of crc32 over each whole record."""
    return sum(zlib.crc32((k + v).encode()) for k, v in zip(keys, values))


def part_files_sorted(out_dir: str) -> tuple[bool, int, int]:
    """(sorted, rows, checksum) of a TeraSort output read part file by
    part file in name order, which is the order the sort wrote them."""
    import pyarrow.parquet as pq

    tables = [pq.read_table(p, columns=["key", "value"]) for p in part_files(out_dir)]
    ok = keys_sorted(t.column("key").to_pylist() for t in tables)
    rows = sum(t.num_rows for t in tables)
    cksum = sum(record_checksum(t.column("key").to_pylist(), t.column("value").to_pylist()) for t in tables)
    return ok, rows, cksum
