"""InputSampler — sample-driven total-order partition planning
(SURVEY.md §2.6, the sampling half of the TotalOrderPartitioner row).

Reference parity targets (paths under /root/reference/,
MRC = hadoop-mapreduce-project/hadoop-mapreduce-client/
hadoop-mapreduce-client-core/src/main/java/org/apache/hadoop):

- SplitSampler      MRC/mapreduce/lib/partition/InputSampler.java:97-157
  (first numSamples/splitsToSample records per split, with the GLOBAL
  record counter: a short early split makes later splits contribute
  extra records, and with numSamples < #splits — samplesPerSplit 0 —
  every non-empty split still contributes one record because the
  append happens before the break)
- RandomSampler     InputSampler.java:159-244 (single java.util.Random
  stream drives the split shuffle, per-record acceptance, reservoir
  replacement AND the freq decay after each replacement)
- IntervalSampler   InputSampler.java:249-303 (emit while kept/records
  < freq; both counters are global across splits, NOT reset per split)
- writePartitionFile InputSampler.java:305-336 (sort samples with the
  raw-byte comparator, stepSize = length / (float) numPartitions in
  FLOAT32, boundary index Math.round(stepSize * i), and the equal-key
  skip ``while (last >= k && compare(samples[last], samples[k]) == 0)
  ++k`` — reachable only when stepSize < 1, i.e. fewer samples than
  partitions)
- TotalOrderPartitioner.BinarySearchNode.findPartition
  MRC/mapreduce/lib/partition/TotalOrderPartitioner.java:186-189
  (``binarySearch + 1; pos < 0 ? -pos : pos`` — a key EQUAL to a
  boundary goes to the RIGHT partition, so the assignment is simply
  the count of boundaries <= key)

The samplers are record-reader algorithms in the reference, run
CLIENT-side over every split (RandomSampler's own javadoc calls this
"very expensive").  Here a "split" is an explicit (split_id, pos)
column pair — the engine surfaces reader order instead of hiding it —
and the scan side stays distributed:

- ``interval_sample`` needs only the global record index, which is a
  per-split row_number plus a broadcast map of cumulative split sizes
  (one tiny count aggregate; no global sort, no single-task window).
- ``split_sample`` reduces to per-split head-N with the take counts
  resolved driver-side from the same tiny count aggregate.
- ``random_sample`` is inherently sequential (one RNG stream across
  the shuffled split order decides every accept/replace), so it is
  the reference's client-side scan verbatim; use it only where the
  reference would — small/sampled inputs — and prefer the other two
  (or built-in RangePartitioning) at scale.

Scale: the partition-file workflow collects the SAMPLE to the driver
(freq·N keys for IntervalSampler, <= numSamples for the others) —
exactly the state the reference's client holds.  The idiomatic Spark
path for the same job remains ``orderBy`` (RangePartitioning samples
distributed and never surfaces the boundaries; the ``sort`` query); this module
exists for reference parity and for pipelines that want the partition
file as a first-class, reusable artifact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class JavaRandom:
    """java.util.Random replica (the JDK javadoc specifies the exact
    LCG normatively: seed scramble with 0x5DEECE66D, 48-bit state,
    ``next(bits)`` via (seed * 0x5DEECE66D + 0xB) mod 2^48).

    Needed because RandomSampler's accept/replace decisions and split
    shuffle all consume one java.util.Random stream — matching the
    reference's sample set for a given seed requires matching the
    generator bit-for-bit.
    """

    _MULT = 0x5DEECE66D
    _ADD = 0xB
    _MASK = (1 << 48) - 1

    def __init__(self, seed: int) -> None:
        self.seed = (seed ^ self._MULT) & self._MASK

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * self._MULT + self._ADD) & self._MASK
        raw = self.seed >> (48 - bits)
        # Java's next() returns a SIGNED 32-bit slice
        if raw >= 1 << (bits - 1) and bits == 32:
            raw -= 1 << 32
        return raw

    def next_int(self, bound: int | None = None) -> int:
        if bound is None:
            return self._next(32)
        if bound <= 0:
            raise ValueError("bound must be positive")
        if bound & (bound - 1) == 0:  # power of two: take high bits
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):  # rejection loop
                return val

    def next_long(self) -> int:
        hi = self._next(32)
        lo = self._next(32)
        val = (hi << 32) + lo
        # wrap to signed 64-bit like Java
        val &= (1 << 64) - 1
        return val - (1 << 64) if val >= 1 << 63 else val

    def next_double(self) -> float:
        hi = self._next(26)
        lo = self._next(27)
        return ((hi << 27) + lo) * (2.0 ** -53)


def _global_index(
    df: DataFrame, split_col: str, pos_col: str
) -> tuple[DataFrame, list[tuple]]:
    """Attach the reference reader's global 1-based record index: splits
    are visited in split_id order, records within a split in pos order.
    Distributed: a per-split row_number window plus a broadcast literal
    map of cumulative split sizes (one count aggregate; the collect is
    bounded by the number of splits, same as any partition manifest)."""
    from pyspark.sql.window import Window

    sizes = sorted(
        (r[0], r[1])
        for r in df.groupBy(split_col).count().collect()
    )
    offsets: list[tuple] = []
    acc = 0
    for sid, cnt in sizes:
        offsets.append((sid, acc, cnt))
        acc += cnt
    off_map = F.create_map(
        *[x for sid, off, _ in offsets for x in (F.lit(sid), F.lit(off))]
    )
    w = Window.partitionBy(split_col).orderBy(pos_col)
    out = df.withColumn(
        "_r", F.row_number().over(w) + off_map[F.col(split_col)]
    )
    return out, offsets


def _interval_keep(r: Column, freq: float) -> Column:
    """IntervalSampler's keep rule (InputSampler.java:295): emit record
    r (1-based global index) iff kept/records < freq evaluated BEFORE
    the append.  The Bresenham recurrence ``kept += (kept < freq*r)``
    closes to kept_before(r) = ceil(freq*(r-1)), so the rule becomes a
    pure Column expression — the double division mirrors Java's
    ``(double) kept / records < freq`` (differential-tested against a
    literal port of the loop in tests/test_input_sampler.py)."""
    kept_before = F.ceil(F.lit(freq) * (r - F.lit(1)).cast("double"))
    return (kept_before.cast("double") / r.cast("double")) < F.lit(freq)


def interval_sample(
    df: DataFrame, key_col: str, freq: float, split_col: str, pos_col: str
) -> DataFrame:
    """IntervalSampler (InputSampler.java:249-303): keep a record when
    the ratio kept/records so far is below freq.  Both counters are
    global across splits — the keep pattern crosses split boundaries,
    which is why the global index (not a per-split one) feeds the rule.
    Returns the sampled keys with their global record index ``_r``."""
    indexed, _ = _global_index(df, split_col, pos_col)
    return indexed.where(_interval_keep(F.col("_r"), freq)).select(
        F.col(key_col).alias("key"), "_r"
    )


def split_sample(
    df: DataFrame,
    key_col: str,
    num_samples: int,
    split_col: str,
    pos_col: str,
    max_splits: int | None = None,
    splits: list | None = None,
) -> DataFrame:
    """SplitSampler (InputSampler.java:97-157): take the first
    numSamples/splitsToSample records of each split — but the break
    condition ``(i+1) * samplesPerSplit <= records`` uses the GLOBAL
    record counter, so a short split rolls its unfilled budget into
    the next split, and with samplesPerSplit == 0 every non-empty
    split still contributes one record (the add precedes the break).
    Take
    counts are resolved driver-side from per-split sizes (a tiny
    aggregate), then applied as a broadcast per-split head-N.

    ``splits`` optionally enumerates the split universe in visit order
    — the reference takes it from ``getSplits()``, so an EMPTY split
    still counts toward splitsToSample and samplesPerSplit even though
    no row carries its id; when omitted, the observed split ids stand
    in (correct whenever every split has at least one record)."""
    from pyspark.sql.window import Window

    _, observed = _global_index(df, split_col, pos_col)
    if splits is None:
        offsets = observed
    else:
        by_sid = {sid: (off, cnt) for sid, off, cnt in observed}
        offsets = [(sid, *by_sid.get(sid, (0, 0))) for sid in splits]
    splits_to_sample = len(offsets) if max_splits is None else min(
        max_splits, len(offsets)
    )
    spp = num_samples // splits_to_sample
    takes: dict = {}
    records = 0
    for i, (sid, _off, cnt) in enumerate(offsets[:splits_to_sample]):
        take = 0
        while take < cnt:
            take += 1
            records += 1
            if (i + 1) * spp <= records:
                break
        takes[sid] = take
    take_map = F.create_map(
        *[x for sid, t in takes.items() for x in (F.lit(sid), F.lit(t))]
    )
    w = Window.partitionBy(split_col).orderBy(pos_col)
    return (
        df.withColumn("_n", F.row_number().over(w))
        .where(F.col("_n") <= F.coalesce(take_map[F.col(split_col)], F.lit(0)))
        .select(F.col(key_col).alias("key"), split_col, "_n")
    )


def random_sample(
    df: DataFrame,
    key_col: str,
    freq: float,
    num_samples: int,
    seed: int,
    split_col: str,
    pos_col: str,
    max_splits: int | None = None,
    splits: list | None = None,
) -> list:
    """RandomSampler (InputSampler.java:159-244): shuffle the splits
    with the SAME Random stream that then drives per-record acceptance
    (nextDouble() <= freq), reservoir replacement once numSamples is
    reached, and the freq decay ``freq *= (numSamples-1)/numSamples``
    after each replacement.  The reference logs a nondeterministic
    seed and proceeds; here the seed is explicit.

    One RNG stream serializes the whole scan, so — like the reference,
    whose javadoc warns it "will read every split at the client" —
    this runs driver-side over the collected (split, pos, key)
    projection.  Returns the sampled keys (list, reference order)."""
    rows = (
        df.select(split_col, pos_col, key_col)
        .orderBy(split_col, pos_col)
        .collect()
    )
    by_split: dict = {}
    order: list = []
    for r in rows:
        sid = r[0]
        if sid not in by_split:
            by_split[sid] = []
            order.append(sid)
        by_split[sid].append(r[2])
    if splits is not None:
        # the reference shuffles getSplits() — an EMPTY split still
        # occupies a slot (and an RNG draw) in the shuffle
        order = list(splits)
        for sid in order:
            by_split.setdefault(sid, [])
    rng = JavaRandom(seed)
    splits = list(order)
    # reference shuffle (InputSampler.java:206-211): forward swap with
    # j drawn over the FULL split count each step
    for i in range(len(splits)):
        j = rng.next_int(len(splits))
        splits[i], splits[j] = splits[j], splits[i]
    splits_to_sample = len(splits) if max_splits is None else min(
        max_splits, len(splits)
    )
    samples: list = []
    i = 0
    while i < splits_to_sample or (i < len(splits) and len(samples) < num_samples):
        for key in by_split[splits[i]]:
            if rng.next_double() <= freq:
                if len(samples) < num_samples:
                    samples.append(key)
                else:
                    ind = rng.next_int(num_samples)
                    samples[ind] = key
                    freq *= (num_samples - 1) / num_samples
        i += 1
    return samples


def total_order_split_points(samples: list[str], num_partitions: int) -> list[str]:
    """writePartitionFile's boundary selection (InputSampler.java:320-334):
    sort the sample with the raw-byte comparator (Text's RawComparator
    is byte-lexicographic, so sort by the UTF-8 encoding), stepSize =
    len / numPartitions in FLOAT32, boundary i at index
    Math.round(stepSize * i) — floor(x + 0.5f) in float32 — with the
    equal-key skip that advances past the previous pick while the keys
    compare equal (only reachable when stepSize < 1).  Returns the
    numPartitions-1 boundary keys in order.

    Documented divergences (r12 ADVICE, kept deliberately):

    - Math.round(float) is implemented as the CLASSIC floor(x + 0.5f)
      in float32.  JDK 9+ (JDK-8010430) instead returns a different
      index when stepSize*i has fractional part 0x1.fffffep-2f (the
      largest float below 0.5) — a one-index boundary difference
      reachable only at that exact bit pattern.  This port pins the
      pre-9 semantics the reference's own test vectors were built on.
    - Duplicate boundary KEYS (heavy-duplicate samples) are emitted
      here and downstream ``total_order_assign`` treats the repeated
      boundary as an empty middle bucket, while the reference's
      TotalOrderPartitioner.setConf (TotalOrderPartitioner.java:96-97)
      throws 'Split points are out of order' when it later READS such
      a partition file — i.e. the reference fails the job end-to-end
      where this framework degrades gracefully.  The assignment
      semantics for every key are identical either way; only the
      fail-vs-proceed behavior differs."""
    ordered = sorted(samples, key=lambda s: s.encode("utf-8"))
    step = np.float32(len(ordered)) / np.float32(num_partitions)
    points: list[str] = []
    last = -1
    for i in range(1, num_partitions):
        k = int(np.floor(np.float32(step * np.float32(i)) + np.float32(0.5)))
        while last >= k and ordered[last].encode("utf-8") == ordered[k].encode("utf-8"):
            k += 1
        if k >= len(ordered):
            # Reference parity: with stepSize < 1 (fewer samples than
            # partitions) the equal-key skip cascades off the end of
            # the array and InputSampler.java:330 throws
            # ArrayIndexOutOfBoundsException.  (For sorted text keys
            # the skip can ONLY fire when stepSize < 1 — with
            # stepSize >= 1 each round(stepSize*i) already exceeds the
            # previous pick — so the skip's sole observable outcome is
            # this crash; duplicate boundary KEYS, by contrast, are
            # emitted without complaint, matching the reference.)
            raise ValueError(
                f"{len(ordered)} samples cannot yield {num_partitions - 1} "
                "split points (reference throws "
                "ArrayIndexOutOfBoundsException, InputSampler.java:330); "
                "sample at least numPartitions records"
            )
        points.append(ordered[k])
        last = k
    return points


def total_order_repartition(
    df: DataFrame, key_col: str, split_points: list[str]
) -> DataFrame:
    """The Sort example's ``-totalOrder`` placement (MRE/examples'
    Sort.java wires InputSampler.writePartitionFile into
    TotalOrderPartitioner): bucket i's records land in OUTPUT
    PARTITION i, so part files concatenate in name order into the
    globally sorted output — the contract TeraSort's validator checks
    file-to-file.

    Spark's hash repartition cannot promise bucket->partition-index
    identity and repartitionByRange would re-sample the boundaries the
    partition file already fixed, so this is the one legitimate RDD
    hop: an identity partitioner over the precomputed bucket id (the
    per-record work — the binarySearch+1 comparison chain — already
    happened column-side; the RDD layer only routes).  Rows within
    each partition are then sorted by key, completing the reference's
    shuffle-sort semantics."""
    n = len(split_points) + 1
    bucketed = df.withColumn("_p", total_order_assign(F.col(key_col), split_points))
    spark = df.sparkSession
    out = (
        bucketed.rdd.map(lambda r: (r["_p"], r))
        .partitionBy(n, lambda k: k)
        .map(lambda kv: kv[1])
    )
    return (
        spark.createDataFrame(out, bucketed.schema)
        .sortWithinPartitions(key_col)
        .drop("_p")
    )


def total_order_assign(key: Column, split_points: list[str]) -> Column:
    """TotalOrderPartitioner.BinarySearchNode.findPartition
    (TotalOrderPartitioner.java:186-189): partition = binarySearch+1
    semantics = the COUNT of boundaries <= key (a boundary-equal key
    goes right).  Compiles to a chain of scan-fused comparisons — no
    shuffle, no UDF; with distinct boundaries this is exactly the
    reference's binary search outcome."""
    part: Column = F.lit(0)
    for b in split_points:
        part = part + F.when(key >= F.lit(b), 1).otherwise(0)
    return part
