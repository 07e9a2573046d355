"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, UTC, Arrow enabled). Shuffle
partitions default to the local core count — on a real cluster this is
overridden by AQE coalescing anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Configs a query's CORRECTNESS depends on, all runtime-settable via
# spark.conf.set. The driver's harness (and any downstream user) builds its
# own vanilla SparkSession, so these must NOT live only in the get_spark()
# factory below — ensure_runtime_confs() is called from tables.register_views
# before any read, making the engine session-independent (round-1 verdict:
# every query erred on PARQUET_TYPE_ILLEGAL / non-UTC hash drift otherwise).
RUNTIME_CONFS = {
    # test tables carry TIMESTAMP(NANOS) parquet columns, which Spark
    # rejects by default; read them as raw nano longs and normalize to
    # microsecond timestamps in the table catalog (tables.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # fixture timestamps carry no UTC flag; read them as session-UTC
    # TimestampType (not TIMESTAMP_NTZ) so timestamp arithmetic
    # (unix_micros, window()) and DuckDB's TIMESTAMP semantics line up
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # reference converts with explicit UTC (main.py:496); all timestamp
    # formatting / literals assume it
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan, partition coalesce, skew-join — also rescues a
    # vanilla session's default 200 shuffle partitions at small SF
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batch transfer for the pandas-UDF operators
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # route format("avro") to the DataSource V2 path: Spark pins "avro"
    # to V1 by default, but the upstream spark-avro module is a V1
    # FileFormat absent from this image — the engine ships its own DSv2
    # implementation (jars/muninn-spark-avro.jar, source under jvm/)
    # registered under the same short name. With no avro source on the
    # classpath this conf changes nothing (lookup still fails over to
    # the pure-Python codec).
    "spark.sql.sources.useV1SourceList": "csv,json,kafka,orc,parquet,text",
    # generated class names leave out the codegen stage id: AQE numbers
    # stages in creation order, which can differ between runs of one
    # plan, and a renumbered stage is new source that misses the codegen
    # class cache (get_spark sizes it) and compiles again
    "spark.sql.codegen.useIdInClassName": "false",
}

# Spark's whole-stage-codegen class cache bound (spark.sql.codegen.cache.
# maxEntries), sized to the registry's working set; see get_spark
CODEGEN_CACHE_ENTRIES = 4096

JVM_AVRO_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jars", "muninn-spark-avro.jar"
)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Pin every correctness-relevant SQL conf on an arbitrary session.

    Idempotent and cheap (conf.set on an already-set value is a no-op
    py4j call); safe to call per register_views."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)


def _local_shuffle_dir() -> str | None:
    """tmpfs scratch dir for shuffle/spill files in LOCAL mode, if one
    exists with headroom. Rationale (r15 plan audit): with
    ``shuffle.partitions=32`` every SQL exchange takes the bypass-merge
    shuffle writer — 32 maps × 32 reducers = 1024 file creates + a
    merge + deletes PER EXCHANGE — and on this box's disk-backed /tmp
    each ``open()`` costs ~10 ms of SYSTEM CPU (jstack sampling showed
    executor threads pinned in ``FileOutputStream.open0`` under
    ``BypassMergeSortShuffleWriter``). Measured steady-state: a 256k-row
    exchange costs 8.6 executor-cpu-s on /tmp vs 0.7 on /dev/shm; a
    256k-row window 10 vs 1.0. Pointing ``spark.local.dir`` at tmpfs
    removes that floor from every exchange, and explains why co-tenant
    DISK load historically read as "CPU steal" on multi-exchange
    entries (syscall time is thread CPU time). On a real cluster this
    branch is irrelevant — admins point local.dir at NVMe and
    partitions ≫ the bypass threshold.

    Override with ``SPARK_GRAFT_LOCAL_DIR`` (set to an empty string to
    keep Spark's default); requires ≥16 GiB free to leave room for the
    1 GiB ingest legs' spills next to the page cache."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return None
    try:
        stat = os.statvfs(shm)
        if stat.f_bavail * stat.f_frsize < 16 * 1024**3:
            return None
    except OSError:
        return None
    path = os.path.join(shm, "muninn-spark-local")
    os.makedirs(path, exist_ok=True)
    return path


def get_spark(app_name: str = "muninn_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or min(32, os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 wraps every DataFrame/Column op to capture the
        # Python call site for error messages (pyspark.errors.utils
        # _with_origin) — profiled at ~25% of ANN plan-construction
        # time (1.99 -> 1.65 s for 6 search constructions with it
        # off). Static conf, driver-side only; errors still raise
        # identically, just without the "line N in <file>" context
        # line. Effectively PROCESS-wide once any get_spark session
        # evaluates it: pyspark.errors.utils caches
        # is_debugging_enabled() in a process-global on first check,
        # so co-resident sessions built later in the same interpreter
        # inherit capture-off too.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Codegen-heavy session: hundreds of distinct queries generate
        # hundreds of whole-stage-codegen classes, and once the JVM's
        # code cache saturates, CodeCache flushing silently evicts
        # compiled methods — the evicted query then runs interpreted at
        # ~20x the cpu with an identical plan (r16: q_quantile_sketch
        # measured 1.4 executor-cpu-s compiled vs 18-32 interpreted on
        # its first/evicted runs; the r15 in-sweep anomaly signature).
        # Reserve 2x the default (240m) — virtual reservation, committed
        # only as used. Executors on a cluster get the same reserve; in
        # local mode they live in the driver JVM and the driver's applies.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # The code cache above holds the JIT's output; Spark's own LRU of
        # Janino-compiled generated classes sits in front of it and stops
        # at 100 entries by default. One catalog_mix pass (6 entries)
        # generates 152 classes, so with 100 every pass evicted and
        # recompiled all of them, and the JIT then recompiled the fresh
        # classes again. 4096 covers a whole 218-entry registry sweep
        # (3,182 classes on a first sweep at sf0.01), so repeated plans hit
        # the cache. Static conf, read once per JVM: it must be set here
        # at launch, not in ensure_runtime_confs, and sessions built
        # elsewhere keep Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    local_dir = _local_shuffle_dir()
    if local_dir:
        # static conf: only effective for the session that creates the
        # context; sessions built elsewhere keep Spark's default
        builder = builder.config("spark.local.dir", local_dir)
    if os.path.exists(JVM_AVRO_JAR):
        # launch-time only (spark.jars is a static conf): sessions built
        # elsewhere simply fall back to the Python Avro codec
        builder = (
            builder.config("spark.jars", JVM_AVRO_JAR)
            # file:// through the jar's NioLocalFileSystem, which sets
            # permissions in-process: without libhadoop, Hadoop's local
            # filesystem forks a `chmod` for every file and directory it
            # creates. Launch-time only, like spark.jars: FileSystem
            # instances are cached per JVM. spark-submit resolves
            # spark.jars through file:// before that jar is on any class
            # path, so the class must come from the driver class path
            # (local[N]: the executors' too), or the launch dies on
            # ClassNotFoundException.
            .config("spark.driver.extraClassPath", JVM_AVRO_JAR)
            .config("spark.hadoop.fs.file.impl", "muninnavro.NioLocalFileSystem")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_runtime_confs(spark)
    return spark
