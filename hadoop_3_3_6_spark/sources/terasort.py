"""TeraGen → TeraSort → TeraValidate pipeline (SURVEY.md §2.13, §5.4).

Reference (under /root/reference/hadoop-mapreduce-project/
hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/terasort/):

- TeraGen.java:61-122   100-byte records: 10-byte key + 90-byte value,
  generated from a synthetic range source (RangeInputFormat :83).
- TeraSort.java:55-239  total-order sort via sampled trie partitioner.
- TeraValidate.java:63-126  asserts global order + checksum equality.
- TeraChecksum.java     global CRC sum, map partials → single reduce.

Spark-first: ``spark.range(n)`` is the range source; deterministic
sha2-derived ASCII bytes replace the reference's PRNG; ``orderBy`` is
the sampled range-partitioned total sort; validation checks both the
sort invariant (every record in order, and the last key of each input
split or partition <= the first key of the next) and
checksum preservation (sum of crc32 over records is sort-invariant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def _gen_key(id_col) -> Column:
    """The 10-hex-char record key as a function of the row id."""
    return F.substring(F.lpad(F.hex(F.xxhash64(id_col, F.lit(0))), 16, "0"), 1, 10)


def _gen_value(id_col) -> Column:
    """The 90-hex-char record value as a function of the row id."""
    hexes = [F.lpad(F.hex(F.xxhash64(id_col, F.lit(i))), 16, "0") for i in range(1, 7)]
    return F.substring(F.concat(*hexes), 1, 90)


def teragen(spark: SparkSession, num_rows: int, partitions: int | None = None) -> DataFrame:
    """Deterministic 100-byte records: 10-hex-char key + 90-hex-char
    value derived from xxhash64 of the row id (uniform like TeraGen's
    PRNG records, reproducible on any cluster layout, ~2× cheaper than
    a cryptographic hash — the generator must not dominate the sort
    being benchmarked)."""
    rng = spark.range(0, num_rows, numPartitions=partitions) if partitions else spark.range(num_rows)
    return rng.select(_gen_key(F.col("id")).alias("key"), _gen_value(F.col("id")).alias("value"))


def terasort(df: DataFrame) -> DataFrame:
    """Total-order sort on key: Spark samples the key distribution and
    range-partitions (RangePartitioning) — the built-in equivalent of
    TeraInputFormat.writePartitionFile + the 2-level trie partitioner
    (TeraSort.java:64-239)."""
    return df.orderBy("key")


def terasort_gen(spark: SparkSession, num_rows: int, partitions: int | None = None) -> DataFrame:
    """TeraGen → TeraSort fused so the total-order shuffle moves a KEY
    PROXY instead of the payload (optimization-guide §8: every shuffle
    but the last should operate on lightweight metadata; here there is
    only one shuffle, so it carries (id, key) ≈ 26 bytes/row instead of
    the 100-byte record, and the 90-byte value is derived from the id
    AFTER placement).  What the optimizer cannot know: both key and
    value are pure functions of the row id, so (1) the RangePartitioner
    sampling pass — which re-executes the exchange child and was
    measured at 2.2 s of the 7.1 s 20M anchor — computes ONE xxhash64
    per row instead of seven plus the string assembly, and (2) the
    exchange writes/fetches ~4× fewer bytes.  Output is identical to
    ``terasort(teragen(spark, n, partitions))``: same rows, same global
    key order (ties — ~n²/2^41 rows — are unordered in both forms;
    the projection above the sort preserves partitioning and order).
    The r13 alternative (localCheckpoint to make sampling read
    materialized rows) measured WORSE (10.8 vs 6.5 s at 20M) because it
    serializes the full records; this form keeps the generator lazy on
    both passes and makes both passes cheap."""
    rng = spark.range(0, num_rows, numPartitions=partitions) if partitions else spark.range(num_rows)
    placed = rng.select(F.col("id"), _gen_key(F.col("id")).alias("key")).orderBy("key")
    return placed.select("key", _gen_value(F.col("id")).alias("value"))


def terachecksum(df: DataFrame) -> int:
    """Global crc32 sum over whole records (TeraChecksum.java): partial
    sums per partition, single final merge — built-in partial agg."""
    row = df.select(F.sum(F.crc32(F.concat("key", "value"))).alias("cksum")).collect()[0]
    return int(row["cksum"] or 0)


def teravalidate(sorted_df: DataFrame, input_checksum: int) -> Row:
    """TeraValidate: (1) keys globally non-decreasing, checked the way
    TeraValidate.java:63-126 checks its output files — EVERY record in
    iteration order (one Arrow-batched fold per partition carrying
    first/last/sorted across batch boundaries; pandas' lexicographic
    compare equals Spark's ordering for both key kinds — UTF8 order on
    ASCII string keys, unsigned-byte order on python ``bytes`` for the
    r12 binary gensort records, whose boundary keys cross back
    hex-encoded since hex is order-preserving), then a tiny
    driver-side scan over the segment boundaries; (2) checksum
    equality (content preservation).  Within-partition order is
    checked, not trusted as "guaranteed by the sort": true of Spark's
    sort operator, but the reference's validator checks the records,
    not the operator contract, and so does this one.

    A segment is one input file split (``input_file_name()``,
    ``input_file_block_start()``), ordered by file name then block
    start — TeraValidate's per-file begin/end records.  Output read
    back from files must be checked in part-file order: Spark packs
    small files into read partitions by size, not by name, so
    partition order can interleave them.  A frame with no input file
    (the sort's own output) is one segment per partition, in
    partition order."""
    from collections.abc import Iterator

    import pandas as pd

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        segs: dict[tuple[str, int], list] = {}  # split -> [first, last, ok, n]
        for pdf in batches:
            for split, part in pdf.groupby(["file", "start"], sort=False, dropna=False):
                keys = part["key"]
                seg = segs.get(split)
                if seg is None:
                    segs[split] = [keys.iloc[0], keys.iloc[-1], keys.is_monotonic_increasing, len(keys)]
                    continue
                seg[2] = seg[2] and keys.iloc[0] >= seg[1] and keys.is_monotonic_increasing
                seg[1] = keys.iloc[-1]
                seg[3] += len(keys)
        if segs:
            rows = []
            for (file, start), (first, last, ok, n) in segs.items():
                if isinstance(first, (bytes, bytearray)):
                    # binary keys: the Arrow return column is string, and
                    # hex preserves unsigned-byte order for the driver's
                    # boundary compare
                    first, last = bytes(first).hex(), bytes(last).hex()
                rows.append((file, start, pid, first, last, n, bool(ok)))
            yield pd.DataFrame(
                rows, columns=["file", "start", "pid", "first_key", "last_key", "rows", "locally_sorted"]
            )

    splits = sorted_df.select(
        "key",
        F.input_file_name().alias("file"),
        F.expr("input_file_block_start()").alias("start"),
    )
    seg_stats = sorted(
        splits.mapInPandas(
            check,
            "file string, start long, pid int, first_key string, last_key string, "
            "rows long, locally_sorted boolean",
        ).collect(),
        key=lambda r: (r["file"], r["start"], r["pid"]),
    )
    globally_sorted = all(r["locally_sorted"] for r in seg_stats)
    prev_last = None
    for r in seg_stats:
        if prev_last is not None and r["first_key"] < prev_last:
            globally_sorted = False
            break
        prev_last = r["last_key"]
    out_checksum = terachecksum(sorted_df)
    return Row(
        rows=sum(r["rows"] for r in seg_stats),
        globally_sorted=globally_sorted,
        checksum_match=bool(out_checksum == input_checksum),
    )


# --- reference-exact GenSort generator (round 12) --------------------------
#
# TeraGen's real record source is Chris Nyberg's gensort (GenSort.java:38-76
# generateRecord; Random16.java:307-345 skipAhead over the precomputed
# squared-map table; TeraGen.java:225-244 SortGenMapper: skipAhead(rowId)
# once per split, ONE nextRand before every record).  The bench generator
# above keeps its documented fast divergence (hash records); this one is
# BYTE-EXACT: same 128-bit LCG, same record layout, conformance-pinned in
# tests/test_tools.py against bytes captured from the reference generator.

_GENSORT_A = 0x2360ED051FC65DA44385DF649FCCF645
_GENSORT_C = 0x4A696D47726179524950202020202001
_M128 = (1 << 128) - 1


def gensort_skip_ahead(n: int) -> int:
    """The 128-bit LCG state after ``n`` nextRand steps from seed 0
    (Random16.skipAhead semantics), via square-and-compose of the
    affine map f(x) = (A·x + C) mod 2**128 — python integers replace
    the reference's precomputed 128-entry power table (the table IS
    this loop's (a, c) sequence; powers of one map commute, so
    per-bit application order is free)."""
    a, c = _GENSORT_A, _GENSORT_C
    result = 0
    n &= _M128
    while n:
        if n & 1:
            result = (a * result + c) & _M128
        c = (a * c + c) & _M128  # f∘f: (a², a·c + c)
        a = (a * a) & _M128
        n >>= 1
    return result


def gensort_record(rand128: int, row_id: int) -> tuple[bytes, bytes]:
    """One 100-byte gensort record as (10-byte key, 90-byte value) —
    GenSort.generateRecord's exact layout: key = high 10 bytes of the
    random state; value = 0x0011 break, 32 UPPERCASE ASCII hex digits
    of the 128-bit row number, 0x8899AABB break, 48 filler bytes (the
    ASCII hex digits 20..31 of the random state, each repeated 4×),
    0xCCDDEEFF break."""
    rand_hex = "%032X" % rand128
    key = rand128.to_bytes(16, "big")[:10]
    value = (
        b"\x00\x11"
        + (b"%032X" % row_id)
        + b"\x88\x99\xaa\xbb"
        + "".join(ch * 4 for ch in rand_hex[20:32]).encode("ascii")
        + b"\xcc\xdd\xee\xff"
    )
    return key, value


def teragen_gensort(
    spark: SparkSession, num_rows: int, partitions: int | None = None,
    with_id: bool = False,
) -> DataFrame:
    """Distributed REFERENCE-EXACT TeraGen: every partition skips the
    LCG ahead to its first row id once, then steps once per record —
    exactly SortGenMapper's discipline (TeraGen.java:229-233), so the
    output bytes are identical to the reference for any partitioning
    (spark.range hands each partition a contiguous id block; a
    non-contiguous batch re-skips, keeping correctness over speed).
    O(log n) skip + O(1) step per record — the 100-TB shape is the
    reference's own.  Use :func:`teragen` for benchmarks (documented
    fast divergence); use this when byte parity matters
    (conformance rows, mixed-engine pipelines)."""
    from collections.abc import Iterator

    import pandas as pd

    rng = (
        spark.range(0, num_rows, numPartitions=partitions)
        if partitions
        else spark.range(num_rows)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rand = None
        expected = None
        for pdf in batches:
            ids, keys, vals = [], [], []
            for rid in pdf["id"]:
                rid = int(rid)
                if rand is None or rid != expected:
                    rand = gensort_skip_ahead(rid)
                    expected = rid
                rand = (_GENSORT_A * rand + _GENSORT_C) & _M128  # nextRand
                expected += 1
                k, v = gensort_record(rand, rid)
                ids.append(rid)
                keys.append(k)
                vals.append(v)
            yield pd.DataFrame({"id": ids, "key": keys, "value": vals})

    out = rng.mapInPandas(gen, "id long, key binary, value binary")
    return out if with_id else out.select("key", "value")
