"""SparkSession construction and shared I/O helpers.

Everything in the engine goes through `get_spark()` / `load_table()` so that
session-level settings that affect correctness (UTC session timezone for
naive-parquet timestamps) and scale (AQE, shuffle widths) are applied
uniformly.

Two shuffle widths, set apart because they cost differently:
- batch exchanges start at `spark.sql.adaptive.coalescePartitions.
  initialPartitionNum` (`batch_shuffle_partitions()`), and AQE coalesces
  them down at runtime;
- stateful streaming operators run without AQE, one state-store task per
  `spark.sql.shuffle.partitions` partition. That width is the core count,
  so a micro-batch is one wave of tasks. Spark records it in each new
  checkpoint and restores it from there on resume.

Streaming checkpoint files (offset, commit and source logs, state deltas,
the file sink's log) are each published by writing a temp file and renaming
it into place. `get_spark` has Spark publish them through
`FileSystemBasedCheckpointFileManager`, for every checkpoint path whatever
its scheme (the manager class is one session-wide conf): an `exists` check
plus one `FileSystem.rename`. Spark's default manager renames through
Hadoop's FileContext, which on `file:` is also a check-then-rename, but
without Hadoop's native library each of its link-status checks forks a
`readlink` process (400 forks per 3-batch stream round). A log entry is
still created only if absent: the manager refuses a target that exists,
and when `FileSystem.rename` returns false because the target appeared in
between (HDFS refuses to rename onto an existing file) it raises "already
exists". On `file:` the check and the rename are two steps, as they were
under FileContext. A manager class in `get_spark`'s `extra_configs` wins,
and sessions adopted through `configure_session` keep Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables provided by the driver test data (TESTDATA.md).
TESTDATA_TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "schemamap-spark",
    shuffle_partitions: int | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession on `local[$SPARK_GRAFT_CPUS]`.

    `shuffle_partitions` (default 32) is the batch shuffle width: AQE starts
    every batch exchange there. Streaming state width is the core count
    (module docstring). `extra_configs` lets deployments inject site
    config — e.g. `{"spark.jars.packages":
    "org.postgresql:postgresql:42.7.4"}` to enable the JDBC catalog adapter's
    wire transport (no driver jar or network in this container; see
    COVERAGE.md 'Declared out of scope').

    Streaming checkpoints are published through Spark's FileSystem
    checkpoint manager, because Hadoop's local FileContext rename forks
    `readlink` for every link-status check without Hadoop's native library
    (module docstring). A manager class in `extra_configs` wins; a host
    session adopted with `configure_session` keeps Spark's default."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # batch exchanges start at this width; AQE coalesces them down
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions or 32),
        )
        # streaming runs without AQE: one state-store task per core
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / mapInPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # checkpoint files published by one rename each (module docstring)
        .config(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)
    )
    for k, v in (extra_configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def batch_shuffle_partitions(spark: SparkSession) -> int:
    """The width batch exchanges start at: AQE's initial partition number,
    or `spark.sql.shuffle.partitions` on a session that does not set it."""
    conf = spark.conf
    width = conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
    return int(width or conf.get("spark.sql.shuffle.partitions"))


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical runtime conf to an externally-built session.

    The driver hands us its own SparkSession; parquet timestamps in the test
    data are timezone-naive, and Spark interprets them in the *session*
    timezone. Pinning UTC makes wall-clock values (and any date bucketing)
    engine-independent and DST-free.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark rejects
    # unless read as long; load_table converts back to timestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def col_named(name: str) -> Column:
    """The column called `name`, taken whole. A bare `F.col(name)` parses
    the name: a dot becomes struct-field access and an unpaired backtick a
    syntax error. Backtick-quoted (`` escapes `), any legal column name,
    such as the spreadsheet header `user.email`, resolves as itself."""
    return F.col("`" + name.replace("`", "``") + "`")


def ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Spread a narrow (few-file) input across the cluster before CPU-heavy
    work. No-op when the scan is already wide; at scale the input has many
    splits and this never fires.

    Width is judged from the scan's file list (metadata only) — not
    df.rdd.getNumPartitions(), which forces an RDD conversion/analysis on
    every call. Plans with no identifiable input files (already shuffled /
    in-memory) are left alone: a shuffled plan starts at the batch shuffle
    width (`batch_shuffle_partitions`), and an in-memory one keeps its own
    partitioning."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < parallelism:
        return df.repartition(parallelism, key) if key else df.repartition(parallelism)
    return df


def spread_by_range(df: DataFrame, key: str) -> DataFrame:
    """Range-partition `df` on `key` ascending, for expensive per-row work
    whose result is then globally sorted on `key`.

    A global sort's range partitioner samples its child by running it, so
    per-row work under an `orderBy` runs twice: once in the sampler job and
    once in the map stage. Partitioned here, below that work, the sort's
    distribution is already satisfied: the only Exchange sits under the
    work, and its sampler reads just the input. Unlike `ensure_parallelism`
    this always fires: a wide input needs the range Exchange as much as a
    narrow one. Width: the input's file count, at least
    `defaultParallelism`."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(max(parallelism, len(df.inputFiles())), key)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """Read one test-data table, with the resolved PLAN cached per
    (session, dir, table) — the catalog-metadata caching every SQL engine
    performs (Spark's own `spark.table()` resolves a relation once; the
    reference's Postgres caches its catalogs). Each fresh `read.parquet`
    costs ~60 ms of driver wall (file listing + footer schema) — ~100
    such calls per bench run re-derived identical metadata for immutable
    input dirs. Actions on the returned frame still scan the parquet
    files every execution; only the relation (listing + schema + the ts
    restoration below) is reused. `fresh=True` bypasses and refreshes
    the entry — required if the directory's files were REPLACED
    mid-session (the cached relation snapshots the file listing, exactly
    as a temp view would)."""
    configure_session(spark)
    cache = getattr(spark, "_schemamap_table_plans", None)
    if cache is None:
        cache = {}
        spark._schemamap_table_plans = cache
    key = (os.path.abspath(sf_dir), name)
    if not fresh:
        hit = cache.get(key)
        if hit is not None:
            return hit
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # nanosAsLong surfaces nanosecond timestamp columns as bigint; restore a
    # proper timestamp (microsecond floor — Spark's native resolution).
    from pyspark.sql import types as T
    from pyspark.sql import functions as F

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division, NOT (ts/1000).cast("long"): modern epoch-ns values
        # (~1.7e18) exceed double's 2^53 exact range, so double division can be
        # off by ±1 µs before flooring — a landmine for boundary-sensitive
        # windows. `div` stays in bigint arithmetic end to end.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    cache[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test-data table as a temp view for spark.sql paths."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
