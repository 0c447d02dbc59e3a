"""Session defaults follow the scratch dirs Spark really uses."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, sys
from pyontutils_spark.session import get_spark
conf = get_spark("session_probe", cores=1, **json.loads(sys.argv[1])).conf
print("PROBE", json.dumps({k: conf.get(k, "unset") for k in (
    "spark.shuffle.compress", "spark.local.dir",
    "spark.io.compression.codec", "spark.driver.memory")}))
"""


def _probe(cwd, kwargs=None, **env_set) -> dict:
    """Shuffle compression, local dir, io codec and driver memory of a
    fresh ``get_spark(**kwargs)`` (default ``driver_memory="1g"``) in a
    subprocess whose environment sets no scratch variable but
    ``env_set``; keys are the conf names, unset ones read "unset"."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR",
                        "SPARK_GRAFT_SHUFFLE_COMPRESS")}
    env.update(env_set, PYTHONPATH=REPO)
    args = json.dumps({"driver_memory": "1g"} if kwargs is None else kwargs)
    out = subprocess.run([sys.executable, "-c", PROBE, args], cwd=str(cwd),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert line, out.stderr[-2000:]
    return json.loads(line[0].split(" ", 1)[1])


def test_spark_local_dirs_on_disk_keeps_compression(tmp_path):
    """Spark shuffles into SPARK_LOCAL_DIRS whenever it is set and
    ignores spark.local.dir, so with only that variable set (on disk)
    the tmpfs default must not apply, nor its compression-off; the
    compressed shuffle uses zstd."""
    conf = _probe(tmp_path, SPARK_LOCAL_DIRS=str(tmp_path))
    assert conf["spark.shuffle.compress"] != "false"
    assert conf["spark.local.dir"] == "unset"
    assert conf["spark.io.compression.codec"] == "zstd"


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs")
def test_tmpfs_default_is_per_user(tmp_path):
    """With no scratch variable set, the tmpfs default is the OS
    user's own dir: /dev/shm is shared by every user of the host.  The
    bytes never leave memory there, so the shuffle is not compressed."""
    conf = _probe(tmp_path)
    assert conf["spark.local.dir"].endswith(f"-{os.getuid()}")
    assert conf["spark.shuffle.compress"] == "false"


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs")
def test_tmpfs_forced_compression_uses_zstd(tmp_path):
    """SPARK_GRAFT_SHUFFLE_COMPRESS=true turns compression back on for
    the tmpfs default, with the same codec as on disk."""
    conf = _probe(tmp_path, SPARK_GRAFT_SHUFFLE_COMPRESS="true")
    assert conf["spark.local.dir"].startswith("/dev/shm")
    assert conf["spark.shuffle.compress"] != "false"
    assert conf["spark.io.compression.codec"] == "zstd"


def test_caller_extra_overrides_codec(tmp_path):
    """A caller's ``extra`` wins over the session's codec."""
    conf = _probe(tmp_path, {"driver_memory": "1g", "extra": {
        "spark.io.compression.codec": "lz4"}},
        SPARK_LOCAL_DIRS=str(tmp_path))
    assert conf["spark.io.compression.codec"] == "lz4"


def test_driver_memory_defaults_from_host(tmp_path):
    """Without ``driver_memory`` the heap is a quarter of MemTotal,
    clamped to 1g..16g, not a fixed size the host may not have."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    conf = _probe(tmp_path, {}, SPARK_LOCAL_DIRS=str(tmp_path))
    assert conf["spark.driver.memory"] == \
        f"{max(1, min(16, kb // 4 // 1024 ** 2))}g"
