"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the same settings are the
right defaults on a real cluster except ``shuffle.partitions``, which AQE
coalesces downward from an intentionally generous initial value, so the
one number scales from laptop to 1000 executors without retuning.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Exporting PYTHONPATH only helps if the package is imported before the
    JVM starts; a caller-owned SparkSession created first captures its env
    at launch. Zipping the package and addPyFile-ing it works in every
    order, exactly once per session. On a real cluster this is what
    --py-files does at submit time; there this is a no-op-cost re-add.
    The zip is a fresh temp file, removed when the process exits: a fixed
    per-pid name would be reused by a later process with a recycled pid
    and ship it a stale copy of the package.
    """
    sc = spark.sparkContext
    if getattr(sc, "_letl_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zpath = tempfile.mkstemp(prefix=f"{pkg_name}_", suffix=".zip")
    atexit.register(os.remove, zpath)
    with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name,
                                       os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._letl_pkg_shipped = True


# Runtime-settable confs an engine call may tune on a CALLER-OWNED session
# when they still hold Spark's untouched defaults. A vanilla session runs
# every shuffle at 200 partitions; on a 32-core local box that is pure
# scheduling overhead for small stages (AQE coalesces the data but not the
# task-launch floor on non-AQE-eligible stages). The override keys off the
# DEFAULT value so a user's (or cluster's) explicit setting always wins.
def tune_caller_session(spark: SparkSession) -> None:
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(max(cores, 16)))
    except Exception:
        pass
    # Timestamp semantics contract: the warehouse's naive (NTZ-encoded)
    # timestamps are UTC wall clock, and every query renders/epochs them
    # under that assumption (matching the DuckDB oracle's naive handling).
    # Pin the session tz so a caller session on a non-UTC host agrees.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass

# Session timezone is pinned to UTC so timestamp semantics match the
# DuckDB oracle (naive-UTC) and are cluster-location-independent.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~128 MB scan splits: big enough to amortize task overhead at 100 TB,
    # small enough that a partition's working set fits executor memory.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # floor the split count at the core count: harmless at 100 TB (file
    # count dominates) and 3× faster on few-small-file local scans, which
    # otherwise run 1-3 tasks regardless of cores
    "spark.sql.files.minPartitionNum": str(os.cpu_count() or 8),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # local-mode driver hosts all 32 executor threads in ONE JVM whose
    # default heap is 1g — a 200+-query session accumulates enough
    # broadcast/checkpoint/codegen residue to OOM it (observed during
    # the round-6 full-suite bench). 8g is modest on the 128 GiB host;
    # on a real cluster spark-submit's --driver-memory overrides this.
    # Only effective when THIS builder starts the JVM (the bench/driver
    # path); a caller-owned session keeps its own setting.
    "spark.driver.memory": "8g",
    # localCheckpoint blocks are released by the ContextCleaner only
    # after a JVM GC notices the RDD is unreferenced; with a larger heap
    # GCs are rare, so ask for a periodic sweep instead of letting
    # checkpoint residue ratchet across a long query session.
    "spark.cleaner.periodicGC.interval": "5min",
}


def get_spark(app_name: str = "light_etl_windows_container_poc_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    On a real cluster pass ``master=None`` with an external master URL via
    spark-submit; every other conf still applies.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_on_executors(spark)
    return spark
