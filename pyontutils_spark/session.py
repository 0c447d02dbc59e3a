"""SparkSession factory with the engine's standard configuration.

Local mode is a stand-in for a multi-executor cluster: everything that
matters at 1000 executors (AQE, skew-join splitting, Arrow batching,
shuffle partition sizing) is configured here so the same code ships via
``spark-submit --py-files`` unchanged.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app: str = "pyontutils_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str = "16g",
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    # Shuffle/spill scratch space belongs on the fastest local storage
    # (guide: shuffle cost shows up as disk+fetch in the downstream
    # stage).  Parameterised: SPARK_GRAFT_LOCAL_DIR overrides; default
    # to tmpfs when present (measured ~10% on shuffle-heavy graph
    # iteration plus far lower variance), else leave Spark's default.
    # The tmpfs default is per OS user (uid suffix): /dev/shm is shared
    # by every user of the host, and another user's dir is not ours.
    # Spark itself prefers SPARK_LOCAL_DIRS over spark.local.dir, so
    # when that is set there is no default, and the dirs it names are
    # the ones the compression choice below looks at.  Cluster managers
    # (YARN/K8s) override spark.local.dir themselves, so this only
    # shapes local/standalone runs.
    env_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and not env_dirs and os.path.isdir("/dev/shm"):
        local_dir = f"/dev/shm/spark-graft-local-{os.getuid()}"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    scratch = (env_dirs or local_dir or "").split(",")
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", driver_memory)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.files.maxPartitionBytes", "134217728"))
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # Compression is tied to the shuffle MEDIUM, not hardcoded: with
    # scratch on tmpfs the bytes never touch a disk or NIC in local
    # mode, so lz4 is pure CPU overhead (measured ~16% on the
    # shuffle-heavy closure loops).  On disk, and on clusters, Spark's
    # compressed default stands.  SPARK_GRAFT_SHUFFLE_COMPRESS=true
    # forces compression back on even for tmpfs.
    if (all(d.startswith("/dev/shm") for d in scratch)
            and os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS",
                               "").lower() != "true"):
        b = (b.config("spark.shuffle.compress", "false")
             .config("spark.shuffle.spill.compress", "false"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict):
    """Set ``conf`` on ``spark`` for the ``with`` body only.  On exit,
    also on error, every key goes back to its old value, and a key that
    was unset before is unset again (restoring a read default with
    ``set`` would leave a new entry behind on the shared session)."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
