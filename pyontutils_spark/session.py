"""SparkSession factory with the engine's standard configuration.

Local mode is a stand-in for a multi-executor cluster: everything that
matters at 1000 executors (AQE, skew-join splitting, Arrow batching,
shuffle partition sizing) is configured here so the same code ships via
``spark-submit --py-files`` unchanged.

Shuffle compression follows the scratch medium.  On tmpfs it is off;
everywhere else (disk, ``SPARK_LOCAL_DIRS``, clusters, or tmpfs with
``SPARK_GRAFT_SHUFFLE_COMPRESS=true``) it is on with zstd, which also
compresses spill and broadcast blocks.  zstd against Spark's lz4
default, measured on a 4-core, 15 GB host with scratch on disk
(perfbench, 10 seeds): the ``serialize`` workload writes 0.55 MB of
shuffle instead of 2.49 MB (-78 %), ``factory`` 0.39 MB instead of
0.58 MB (-33 %); the closure and components loops write 54-66 % less.
Per-layer JVM CPU moved -11 % to +5 %, within the host's noise, and
warm serialize repetitions took the same median wall time under both
codecs; only the first three repetitions in a fresh JVM were about 1 s
slower.  AQE sizes partitions from the compressed bytes, so a coalesce
can come out with fewer partitions.  The driver heap
defaults to a quarter of the host's memory.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app: str = "pyontutils_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    if driver_memory is None:
        driver_memory = _host_driver_memory()
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
    # mode, so compressing them is pure CPU overhead (lz4 measured ~16%
    # on the shuffle-heavy closure loops).  On disk, and on clusters,
    # shuffle, spill and broadcast blocks are compressed with zstd
    # (Spark's default level) instead of Spark's lz4: RDF rows repeat
    # long IRI prefixes, a few predicates and near-identical literals,
    # which lz4 leaves mostly in place (the trade is measured in the
    # module docstring).  SPARK_GRAFT_SHUFFLE_COMPRESS=true forces
    # compression, with zstd, back on even for tmpfs.  A caller's
    # ``extra`` still overrides the codec.
    if (all(d.startswith("/dev/shm") for d in scratch)
            and os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS",
                               "").lower() != "true"):
        b = (b.config("spark.shuffle.compress", "false")
             .config("spark.shuffle.spill.compress", "false"))
    else:
        b = b.config("spark.io.compression.codec", "zstd")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _host_driver_memory() -> str:
    """A quarter of the host's MemTotal, at least 1g and at most 16g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kb // 4 // 1024 ** 2))}g"


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
