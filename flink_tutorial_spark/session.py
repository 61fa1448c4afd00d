"""SparkSession factory and table loading.

Scale posture: these configs are the local[32] test profile. On a real
cluster the same code runs unchanged — AQE handles partition coalescing
and skew joins at runtime, shuffle partition count should be raised to
~2-3x total executor cores (or left to AQE's initialPartitionNum), and
`spark.sql.files.maxPartitionBytes` keeps scan tasks memory-bounded.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: sessions whose runtime confs were already ensured (weak: a stopped
#: session must not be pinned alive by this cache, and a NEW session
#: object — e.g. spark.newSession() — gets its own pass). Guarded by
#: _CONFS_LOCK: WeakSet is not thread-safe and queries may be driven
#: from several driver threads (ADVICE r19).
_CONFS_ENSURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_CONFS_LOCK = threading.Lock()

#: per-session inferred Parquet schemas, keyed by file identity (see
#: parquet_schema). Weak on the session for the same reason as
#: _CONFS_ENSURED, and guarded by the same lock.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]]" = (
    weakref.WeakKeyDictionary()
)

TABLES = (
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
)

#: dimension tables small enough to broadcast at ANY scale factor
#: (region=5, nation=25 rows always; supplier/part grow slowly with sf).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: event-time columns in the testdata parquet. Two generations of the
#: driver's testdata exist: TIMESTAMP(NANOS) (read as epoch-nanos longs
#: via nanosAsLong; restored to TimestampType here) and timestamp[us]
#: without timezone (read as TIMESTAMP_NTZ; normalized to TimestampType
#: here — required because Spark 4.1 rejects withWatermark on
#: TIMESTAMP_NTZ, and with the session timezone pinned to UTC the cast
#: is value-identical). DuckDB truncates/compares the same micros, so
#: oracle comparisons stay bit-exact either way.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def get_spark(app_name: str = "flink_tutorial_spark", cpus: int | None = None) -> SparkSession:
    """Create/get the engine SparkSession.

    - AQE on: runtime partition coalescing + skew-join splitting stand in
      for the reference's hand-rolled salting (PageView.scala:48-59).
    - UTC session timezone: parquet timestamps compare bit-identical with
      the DuckDB oracle.
    - Arrow on: every pandas UDF crosses the JVM<->Python boundary in
      columnar batches, never row-at-a-time.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in load_table (same
        # nanos->micros truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Make any externally-created session (e.g. the driver's) safe:
    nano-timestamp parquet reads and UTC timestamp semantics are
    required for correct results regardless of who built the session.

    The PERF-HYGIENE confs are memoized per session (r19, guide §1.2):
    this runs inside every load_table/stream_table/normalize_event_time
    call — i.e. inside every TIMED query region, several times per
    query — and each conf.set is a py4j round-trip. After the first
    pass the session is ours and those confs stay; re-applying them per
    table load is pure driver overhead. (streaming/run.run_stream pins
    a different shuffle-partition count around a stream's start, AFTER
    this ran once, and restores it when the start is done; the ==200 guard
    below only targets never-touched external sessions.)

    The two CORRECTNESS confs (UTC timezone, nanosAsLong) are
    re-asserted on EVERY call (ADVICE r19): if external code mutates
    either after our first pass, queries silently produce wrong
    timestamps — two idempotent conf.sets per call is cheap insurance
    against a wrong answer."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with _CONFS_LOCK:
        if spark in _CONFS_ENSURED:
            return
        _CONFS_ENSURED.add(spark)
    # perf hygiene for externally-built sessions (all runtime-settable):
    # AQE coalesces the default 200 shuffle partitions and splits skew
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count() or 32))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema `spark.read.parquet(path)` infers, cached per session.

    Inference runs a Spark job that reads the Parquet footers, and every
    query loads its tables afresh; a read given its schema launches no
    job. So a file pays inference once per session: the first call runs
    exactly that inference read, after ensure_runtime_confs has pinned
    nanosAsLong (which decides how TIMESTAMP(NANOS) columns infer);
    later calls return the stored StructType.

    Cache contract: an entry is keyed by the file's identity from one
    os.stat — (abspath, st_ino, st_size, st_mtime_ns). Replacing or
    rewriting the file changes at least one of them in practice and
    re-infers. A file rewritten in place with the same inode, size and
    mtime_ns is NOT detected; that is the same contract as Spark's own
    file-index caching. The entry also assumes the session's other
    Parquet inference confs (binaryAsString, int96AsTimestamp, ...) do
    not change mid-session.

    Out of scope: the engine's re-reads of directories it wrote itself
    (sink tables such as the dedup registry's meta dir, MergeAggSink
    parts) still infer on every read — their contents change between
    reads by design."""
    ensure_runtime_confs(spark)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns)
    with _CONFS_LOCK:
        schema = _SCHEMAS.get(spark, {}).get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _CONFS_LOCK:
            _SCHEMAS.setdefault(spark, {})[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (parquet scan; pushdown/pruning apply)
    with its cached inferred schema (parquet_schema)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_event_time(df, name)


def normalize_event_time(df: DataFrame, name: str) -> DataFrame:
    """Restore proper TimestampType on the event-time columns for either
    testdata generation (see NANO_TS_COLUMNS).

    PRECONDITION: the NTZ->timestamp relabel is value-identical only
    under a UTC session timezone, so this enforces the engine's runtime
    confs on the frame's own session rather than trusting the caller to
    have gone through load_table."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ensure_runtime_confs(df.sparkSession)
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, LongType):
            # integer `div`, not float `/`: epoch-nanos (~1.7e18) exceed
            # double's 2^53 integer range and would silently lose micros
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # session tz is UTC, so this relabels the same micros value
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register temp views so spark.sql() sees them."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            dfs[name] = df
    return dfs
