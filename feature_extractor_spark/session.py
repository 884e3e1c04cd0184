"""SparkSession factory tuned for this engine, and the session helpers every
module shares: driver-side frames (``local_frame``), partitioned overwrites
and Hadoop FileSystem paths.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, Arrow, UTC, shuffle-partition sizing) are what we would ship to a real
multi-executor cluster via spark-submit --conf.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def machine_cores() -> int:
    """Cores this process may run on (its CPU affinity, which a container
    or ``taskset`` narrows below ``os.cpu_count()``)."""
    return len(os.sched_getaffinity(0))


def driver_memory_default() -> str:
    """Half the machine's physical memory, at most 24g: the local-mode
    driver JVM holds every executor, and the Python workers it forks need
    the other half."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(total_mb // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "feature_extractor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are scale-oriented: AQE on (runtime coalesce + skew-join
    splitting), Arrow transfer on for the pandas-UDF stages, UTC session
    timezone so cyclical datetime features are reproducible anywhere.
    Cores and driver memory fit the machine unless ``SPARK_GRAFT_CPUS`` /
    ``SPARK_DRIVER_MEM`` (or ``cores``) say otherwise. Shuffle and spill
    files go where Spark itself puts them: ``SPARK_LOCAL_DIRS`` when set,
    else ``java.io.tmpdir``.
    """
    # Make the package importable inside Python workers regardless of the
    # driver's cwd — the local-mode analog of shipping the package with
    # ``spark-submit --py-files`` (workers inherit PYTHONPATH from the
    # driver process in local mode).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    # One BLAS thread per Python worker: with N workers per machine, letting
    # each numpy call spawn N BLAS threads oversubscribes N^2-fold and makes
    # the Arrow UDF stage SLOWER at higher parallelism (measured: local[32]
    # lost to local[8] before this). Parallelism belongs to Spark tasks.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or machine_cores())
    if shuffle_partitions is None:
        # 4x cores: enough granularity for AQE to balance skewed stages
        # (it coalesces the excess); 1x cores left stragglers pinning wall
        # time to the slowest partition.
        shuffle_partitions = max(cores * 4, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or driver_memory_default(),
        )
        .config("spark.ui.enabled", "false")
        # ParallelGC: this engine's hot stages allocate big short-lived
        # arrays (window frames, Arrow batches); G1 degraded REPEATED runs
        # up to 6x (old-gen growth -> concurrent cycles); throughput GC
        # keeps them flat (measured 21.9s -> 3.6s on the as-of stage).
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.timezone=UTC -XX:+UseParallelGC",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-Duser.timezone=UTC -XX:+UseParallelGC",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | T.StructType
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` order; a DDL
    string or a ``StructType``), built through Arrow as a ``LocalRelation``.

    Every frame this package builds from driver values goes through here.
    ``createDataFrame`` on a Python list is a pickled RDD: each scan of it
    runs one Python task per partition, which forks the worker daemon (a
    warm 50-row parquet write on 4 vCPU, ``local[4]``: 0.66-0.74 s, against
    0.13-0.17 s as a local relation).
    Each column is one typed Arrow array, so nullable ints never pass
    through pandas floats; arrays, maps, structs, binaries and dates keep
    their values. A top-level ``timestamp`` value is read as the list path
    reads it: an aware datetime is its instant, a naive one is
    driver-local time.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_arrays(
        [
            _arrow_column([r[i] for r in rows], f.dataType)
            for i, f in enumerate(schema.fields)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)


def _arrow_column(values: list, data_type: T.DataType) -> pa.Array:
    if isinstance(data_type, T.TimestampType):
        # pyarrow stores an aware datetime's wall time and drops its
        # offset; astimezone reads a naive one as driver-local
        values = [v if v is None else v.astimezone(dt.timezone.utc) for v in values]
    return pa.array(values, type=to_arrow_type(data_type))


def overwrite_partitions(df: DataFrame, path: str, by: str) -> None:
    """Write ``df`` partitioned ``by`` over ``path``, replacing only the
    partitions it holds rows for (a replayed batch or unit rewrites its own
    partition, every other one stays). The mode is an option of this one
    write, which takes precedence over the session conf: no write in this
    package sets ``spark.sql.sources.partitionOverwriteMode`` on the shared
    session, so concurrent writers cannot leak it into each other."""
    df.write.option("partitionOverwriteMode", "dynamic").mode(
        "overwrite"
    ).partitionBy(by).parquet(path)


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FileSystem API:
    any scheme the session can read (``file://``, ``hdfs://``, ``s3a://``)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists (see ``hadoop_path``). Callers let only a
    missing path soften their behaviour; every other failure propagates."""
    fs, p = hadoop_path(spark, path)
    return fs.exists(p)
