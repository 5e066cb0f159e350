"""Scan-side operators (SURVEY.md §2.1).

Reference parity targets (paths under /root/reference/):

- TextInputFormat (offset,line)  MRC/mapreduce/lib/input/TextInputFormat.java:42
- KeyValueTextInputFormat (split on first separator)
  MRC/mapreduce/lib/input/KeyValueTextInputFormat.java:47
- SequenceFileInputFilter sampled scans (Regex / Percent / MD5 filters)
  MRC/mapreduce/lib/input/SequenceFileInputFilter.java:111-203
- NLineInputFormat parallelism control
  MRC/mapreduce/lib/input/NLineInputFormat.java:63 → repartition
- JDBC scans (DBInputFormat / DataDrivenDBInputFormat,
  MRC/mapreduce/lib/db/DBInputFormat.java:61, DataDrivenDBInputFormat.java:61)
  are built-in: ``spark.read.jdbc(url, table, column=…, lowerBound=…,
  upperBound=…, numPartitions=…)`` reproduces value-range splitting.

Split planning, small-file packing (CombineFileInputFormat) and codec
auto-detection are built into the Spark file source
(spark.sql.files.maxPartitionBytes / openCostInBytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """TextInputFormat analogue: one row per line, column ``line``.
    The reference's byte-offset key is an iteration artifact no query
    consumes, so it has no column."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_key_value_text(
    spark: SparkSession, path: str, sep: str = "\t"
) -> DataFrame:
    """KeyValueTextInputFormat: split each line on the FIRST separator
    into (key, value); a line without a separator becomes (line, '')."""
    df = spark.read.text(path)
    parts = F.split(F.col("value"), sep, 2)
    return df.select(
        F.element_at(parts, 1).alias("key"),
        F.coalesce(F.element_at(parts, 2), F.lit("")).alias("value"),
    )


# --- sampled scans (SequenceFileInputFilter) ----------------------------


def sample_filter_regex(df: DataFrame, key_col: str, pattern: str) -> DataFrame:
    """RegexFilter (SequenceFileInputFilter.java:111): keep records
    whose key matches — the reference's accept() calls
    ``Matcher.matches()``, a FULL-string match, so the pattern is
    anchored here (``rlike`` alone would be a find/substring match;
    round-11 conformance review).  The non-capturing group keeps
    top-level alternations inside the anchors."""
    return df.filter(F.col(key_col).rlike(f"^(?:{pattern})$"))


def sample_filter_percent(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """Deterministic 1/frequency sampling keyed on MD5(key) — the
    engine's DEFAULT analogue of PercentFilter
    (SequenceFileInputFilter.java:154).  DOCUMENTED DIVERGENCE: the
    reference's PercentFilter is reader-POSITIONAL (a per-reader
    counter accepts record# % frequency == 0), which makes membership
    depend on split boundaries and in-split order — exactly the
    layout-dependence a distributed engine with speculative execution
    must not key decisions on (the rand()-vs-hash rule every sampler
    in functions/sampling.py follows).  The md5-keyed form keeps the
    same 1/frequency rate with stable, re-execution-safe membership;
    :func:`sample_filter_percent_positional` is the faithful
    positional form when layout parity itself is wanted."""
    digest_mod = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(frequency),
    )
    return df.filter(digest_mod == 0)


def sample_filter_percent_positional(df: DataFrame, frequency: int) -> DataFrame:
    """PercentFilter's FAITHFUL positional semantics
    (SequenceFileInputFilter.java:154 accept(): a per-reader counter —
    record 0 of every reader accepted, then every frequency-th): one
    counter per PARTITION (the split/reader analogue), kept across
    Arrow batches.  Membership depends on partitioning and in-
    partition order by construction — the reference's own behavior —
    so use the md5-keyed :func:`sample_filter_percent` wherever
    stability matters."""

    def positional(batches):
        count = 0
        for pdf in batches:
            idx = [(count + i) % frequency == 0 for i in range(len(pdf))]
            count += len(pdf)
            yield pdf[idx]

    return df.mapInPandas(positional, df.schema)


def sample_filter_md5(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """MD5Filter (SequenceFileInputFilter.java:203), REFERENCE-EXACT
    as of the round-11 review: hashcode = the FIRST 8 BYTES of
    MD5(key bytes) read as a big-endian SIGNED long (MD5Hashcode's
    shift-or loop), accept iff ``hashcode / f * f == hashcode`` —
    Java truncating-division divisibility, sign-independent, i.e.
    hashcode % frequency == 0.  (Previously this reused the 60-bit
    pmod form: same 1/f rate, different membership set than the
    reference's.)

    Key bytes match the reference per key type: a BINARY column is
    hashed RAW (the BytesWritable arm of MD5Filter.accept — the r11
    form cast binary→string, which mangles non-UTF-8 bytes; round-12
    ADVICE fix); anything else hashes the UTF-8 of its string form
    (the Text/toString arm)."""
    from pyspark.sql.types import BinaryType

    kcol = F.col(key_col)
    try:
        is_binary = isinstance(df.schema[key_col].dataType, BinaryType)
    except KeyError:  # computed/aliased expressions: string form
        is_binary = False
    k = F.md5(kcol if is_binary else kcol.cast("string"))
    hi = F.conv(F.substring(k, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(k, 9, 8), 16, 10).cast("bigint")
    signed_hi = F.when(hi >= F.lit(2**31), hi - F.lit(2**32)).otherwise(hi)
    hashcode = signed_hi * F.lit(2**32) + lo
    return df.filter(hashcode % frequency == 0)
