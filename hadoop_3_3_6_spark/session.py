"""SparkSession factory and fixture-table loading.

Scale posture: configs chosen to survive a 1000-executor / 100 TB
deployment — AQE on (runtime partition coalescing + skew-join
splitting), broadcast threshold explicit, Arrow on for every
pandas-UDF exchange, shuffle partitions sized for the local test rig
but overridable per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spark_local_dir() -> str:
    """Resolve the shuffle/spill scratch base — ONE definition shared
    by get_spark (spark.local.dir) and bench.py's stale-scratch sweep,
    so the sweep always targets the directory Spark actually writes to
    (round-7 ADVICE: the two resolutions had drifted — on a machine
    without /dev/shm the sweep pointed at a directory Spark never
    used).  /dev/shm (RAM-backed tmpfs) is the stable analogue of
    provisioned shuffle SSDs on this burst-throttled sandbox disk;
    /tmp is the fallback when tmpfs is absent."""
    return os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    )


def get_spark(app_name: str = "hadoop-3-3-6-spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster only ``master`` and sizing configs change; the
    semantic configs (AQE, Arrow, ANSI-off for Hadoop-like permissive
    semantics) are deployment-independent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small shuffle partitions and
        # skew-join splitting — the 100 TB insurance policy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast joins for small dims (region/nation/supplier).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep partition files reasonably sized at scan time.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Shuffle/spill scratch space.  On a real cluster this is the
        # local-SSD mount (spark.local.dir per executor); in this
        # sandbox the root virtio disk is BURST-THROTTLED — measured
        # sequential-write speed fell 399 -> 9 MB/s within one round
        # as heavy runs drained the hypervisor's IO budget, which made
        # every spill-regime benchmark measure the throttle state, not
        # the engine (200M terasort: 97 s .. 408 s for identical code).
        # /dev/shm (126 GiB tmpfs, RAM-backed) is the stable analogue
        # of provisioned shuffle SSDs; persistent-data anchors
        # (dfsio_write/read) still target the real disk deliberately.
        .config("spark.local.dir", spark_local_dir())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # warehouse for bucketed (MapFile-analogue) tables; static conf
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
        # UI off by default (bench/test noise); SPARK_GRAFT_UI=true
        # turns it on for sessions that read the REST metrics API
        # (bench.py's stage-parallelism audit).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    # the semantic confs live in ONE list, applied to this session the
    # same way as to a session built by someone else
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the semantically-required runtime confs to ANY session.

    The driver contract runs queries in a session this engine did not
    build — and ``get_spark`` applies them to its own session here
    too, so the list exists once.  All are runtime-settable (verified
    against a bare session)."""
    for k, v in (
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in load_table.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # Deterministic epoch arithmetic across engines (DuckDB treats
        # naive timestamps as UTC; so must we).
        ("spark.sql.session.timeZone", "UTC"),
        # Match Hadoop's permissive numeric semantics (no ANSI errors
        # on overflow/cast; MR user code wrapped silently).
        ("spark.sql.ansi.enabled", "false"),
        # Arrow for every JVM<->Python exchange (pandas UDFs,
        # mapInPandas/applyInPandas) — the reference's TypedBytes role.
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # custom Python DataSources (warc.py, pydatasource.py) implement
        # pushFilters(); Spark 4 hard-errors (DATA_SOURCE_PUSHDOWN_DISABLED)
        # when such a reader runs with this conf off — required in any
        # host-built session that scans those sources.
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # parquet timestamp[us] without the UTC-adjusted flag would
        # otherwise infer as TIMESTAMP_NTZ (Spark 4.1 default), which
        # watermarks/event-time reject and which cannot cast to double;
        # with session tz pinned to UTC the LTZ reading is identical.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover — never block a query on a conf
            pass


def pin_active_session(spark: SparkSession) -> None:
    """Re-assert ``spark`` as the JVM's thread-local active session.

    Python DataSource LOOKUP (DataSource.lookupDataSource for a
    ``.format("<name>")`` read/write) consults the ACTIVE JVM
    session's DataSourceManager, while ``spark.dataSource.register``
    registers on the session it was called on.  The active session is
    an InheritableThreadLocal that long-lived sessions legitimately
    lose: structured-streaming execution runs on a CLONED session
    (IncrementalExecution), and a py4j callback thread spawned while
    the clone was active inherits it — after which a freshly
    registered source "does not exist" because the lookup reads the
    clone's manager snapshot (round-12 finding: avro_roundtrip's
    avrofile sink failed with DATA_SOURCE_NOT_FOUND only when
    constructed AFTER ~200 other queries in one session, despite
    registering immediately before the write).  Every register_*
    helper calls this so registration and lookup always address the
    same session.  Best-effort: the static setter is public API, but
    never fail a query over pinning."""
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:  # pragma: no cover
        pass


_SCANS: dict[tuple[str, str, str], DataFrame] = {}
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def scan_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The raw parquet scan of one fixture table, as stored on disk.

    Memoized per (application, table, sf_dir): `spark.read.parquet`
    runs a footer schema-inference job on every call, so uncached
    repeat loads pay one driver job each — across a 100-query corpus
    run that is hundreds of pointless metadata jobs.  The cached
    object is a pure plan; reusing it never reuses results.  Queries
    read load_table; a stream over the same files declares this
    scan's schema."""
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, name, sf_dir)
    if key not in _SCANS:
        _SCANS[key] = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _SCANS[key]


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """The one timestamp rule for scans of fixture table ``name``,
    batch or streaming.

    events.ts is stored as TIMESTAMP(NANOS); with nanosAsLong it scans
    as bigint nanos and is converted here to a microsecond timestamp
    (same truncation DuckDB applies reading ns into its us timestamps).
    Naive timestamps (a host session that inferred NTZ before our
    confs landed) become LTZ, identical under the pinned UTC session
    timezone; watermarks reject NTZ."""
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div: float division would lose precision above 2^53 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one fixture table. Parquet scans get predicate pushdown,
    column pruning and split planning from the file source for free
    (reference split planning: FileInputFormat.getSplits,
    hadoop-mapreduce-client-core .../lib/input/FileInputFormat.java:397).
    The memoized scan_table with normalize_timestamps applied, itself
    memoized per (application, table, sf_dir)."""
    raw = scan_table(spark, name, sf_dir)
    key = (spark.sparkContext.applicationId, name, sf_dir)
    if key not in _TABLE_CACHE:
        _TABLE_CACHE[key] = normalize_timestamps(raw, name)
    return _TABLE_CACHE[key]


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def _parse_jvm_mem(s: str) -> int:
    """'8g' / '512m' / '4096k' / plain bytes -> bytes (JVM -Xmx grammar)."""
    s = s.strip().lower()
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}.get(s[-1], 1)
    return int(float(s[:-1] if s[-1] in "kmgt" else s) * mult)


def execution_memory_per_task(spark: SparkSession) -> int:
    """Unified execution+storage memory one task slot can count on:
    (heap - 300 MB reserved) * spark.memory.fraction / task slots.
    Local mode reads the live driver JVM heap (driver IS the executor);
    cluster mode derives it from spark.executor.memory /
    spark.executor.cores / spark.task.cpus."""
    sc = spark.sparkContext
    reserved = 300 * 1024 * 1024
    fraction = float(spark.conf.get("spark.memory.fraction", "0.6"))
    if sc.master.startswith("local"):
        heap = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
        slots = max(sc.defaultParallelism, 1)
    else:
        heap = _parse_jvm_mem(spark.conf.get("spark.executor.memory", "4g"))
        slots = max(
            int(spark.conf.get("spark.executor.cores", "4"))
            // max(int(spark.conf.get("spark.task.cpus", "1")), 1),
            1,
        )
    return max(int((heap - reserved) * fraction / slots), 16 * 1024 * 1024)


def sized_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int,
    target_partition_bytes: int = 128 * 1024 * 1024,
    per_core_min: int = 2,
    sort_inflation: float = 3.0,
) -> int:
    """Shuffle-partition count sized from the job's estimated input
    bytes — the first knob that matters on a real cluster (SCALE.md,
    round-6 TeraSort matrix: below the spill knee the count is a no-op
    within noise; the Yahoo-2009 runs the reference benchmarked
    against used ~2 partitions per core — the floor here).

    Past the knee the binding constraint is EXECUTION MEMORY, not scan
    granularity: a shuffle partition is sorted/aggregated inside ONE
    task's share of unified memory, and row data inflates ~3× between
    serialized shuffle bytes and deserialized sorter records.  So the
    per-partition byte target is min(target_partition_bytes,
    execution_memory_per_task / sort_inflation).  Measured on the 20 GB
    / 200M-record TeraSort (8g heap, 32 slots → ~155 MB/task, cap
    ≈ 52 MB): 150 partitions (133 MB each) = 238 s of spill churn,
    256 = 189 s, 416 (48 MB each, under the cap) = 88 s — a 2.7×
    swing from this one knob (SCALE.md round-7 notes).

    max(per_core_min x cores, ceil(bytes / target)): small inputs get
    full-core fan-out (never fewer tasks than the cluster can run),
    large inputs get spill-bounded partitions.  Over-provision is safe
    under AQE coalescing (enabled by get_spark); under-provision is
    what spills — so the estimate may be rough (file sizes, not
    decompressed), erring high via compressed-parquet ratios is fine.
    """
    import math

    target = min(
        target_partition_bytes,
        max(int(execution_memory_per_task(spark) / sort_inflation), 1 * 1024 * 1024),
    )
    cores = spark.sparkContext.defaultParallelism
    return max(per_core_min * cores, math.ceil(max(input_bytes, 1) / target))


def estimate_input_bytes(df: DataFrame) -> int:
    """Total on-disk size of a DataFrame's input files (its scan-side
    listing; 0 for purely generated plans).  Uses the session's Hadoop
    FileSystem so any registered scheme works, not just file:."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for uri in df.inputFiles():
        path = jvm.org.apache.hadoop.fs.Path(uri)
        fs = path.getFileSystem(hconf)
        total += fs.getFileStatus(path).getLen()
    return total

