"""SparkSession factory with engine-wide defaults.

The configs here are the ones that matter at 100 TB just as much as on
``local[*]``:

* AQE on — runtime re-planning (coalesce shuffle partitions, skew-join
  splitting, dynamic broadcast) is the single biggest lever for plans whose
  statistics are wrong at plan time.
* ``nanosAsLong`` — the driver testdata's ``events.ts`` column is parquet
  TIMESTAMP(NANOS), which Spark 4 refuses to read natively; we read nanos as
  long and convert to microsecond timestamps in the reader
  (:func:`datapipeline_omnichanneltobigquery_spark.sources.tables.read_table`).
* Arrow enabled — every Pandas-UDF boundary (multimodal ops) moves data in
  Arrow batches, not pickled rows.
* Python worker daemon — on ``local`` masters, Python workers fork from
  :mod:`~datapipeline_omnichanneltobigquery_spark.worker_daemon`, whose
  lazy zip-import invalidation takes the 0.16-0.25 s that re-reading
  ``pyspark.zip`` costs below Python 3.13 (4-vCPU host) off every
  ``mapInPandas``/``mapInArrow``/pandas-UDF task.  Set for local masters
  only: other masters' executors would need this package installed.
* DataFrame call-site capture off — PySpark otherwise wraps every
  DataFrame and Column call to record its Python call site, a few py4j
  round trips per call: ``cast_columns``' one 14-column projection sent
  760-940 py4j commands with it and 229 without (0.08-0.14 s of driver time,
  4-vCPU host).  What is lost is the Python file and line in the context
  of a DataFrame error; the error itself, and its SQL context, stay.
  A static conf: it takes effect only when ``get_spark`` creates the
  session.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# on sys.path of local Python workers, so they import the daemon module
# whatever the working directory
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the host's ``MemTotal`` (``/proc/meminfo``), capped at 64g: the
    local-mode driver JVM holds every executor too, so a heap larger than
    the host lets it grow until the kernel kills it.  Hosts without
    ``/proc/meminfo`` get the cap."""
    cap_mb = 64 * 1024
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{cap_mb}m"
    return f"{min(total_kb // 2048, cap_mb)}m"


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set the runtime confs ``settings`` for a ``with`` block, then restore
    each key's previous value (unset if it was unset), also if it raised."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Spark's RocksDB-backed streaming state store: state lives off-heap in a
# local RocksDB instance (changelog-checkpointed to the checkpoint location)
# instead of the default in-memory HDFSBackedStateStoreProvider map.  At real
# state sizes (billions of dedup keys / session windows) the in-memory
# provider OOMs the executors; RocksDB is the deployable setting.  It is a
# session-level SQL conf: set ``spark.sql.streaming.stateStore.providerClass``
# to it before ``start()`` (each query pins the provider it started with in
# its checkpoint).
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "datapipeline_omnichanneltobigquery_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to 2× local cores, which keeps every core
    busy through AQE coalescing; on a real cluster you would size it to
    ~2-3× total executor cores and let AQE coalesce down.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime Bloom-filter semi-join pruning: for a selective build side,
        # the probe-side scan drops non-matching rows BEFORE the shuffle —
        # at 100 TB this is the difference between shuffling the fact table
        # and shuffling the match set (complements static PushedFilters,
        # which only see literal predicates)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode = driver-only JVM; this is the one memory knob.  Applied
        # only when this call actually launches the JVM (no-op afterwards).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.python.daemon.module", f"{__package__}.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if warehouse_dir is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
