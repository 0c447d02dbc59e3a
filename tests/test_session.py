"""Session defaults follow the scratch dirs Spark really uses."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
from pyontutils_spark.session import get_spark
conf = get_spark("session_probe", cores=1, driver_memory="1g").conf
print("PROBE", conf.get("spark.shuffle.compress", "unset"),
      conf.get("spark.local.dir", "unset"))
"""


def _probe(cwd, **env_set) -> tuple[str, str]:
    """(spark.shuffle.compress, spark.local.dir) of a fresh get_spark
    in a subprocess whose environment sets no scratch variable but
    ``env_set``."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR",
                        "SPARK_GRAFT_SHUFFLE_COMPRESS")}
    env.update(env_set, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", PROBE], cwd=str(cwd),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert line, out.stderr[-2000:]
    _, compress, local_dir = line[0].split()
    return compress, local_dir


def test_spark_local_dirs_on_disk_keeps_compression(tmp_path):
    """Spark shuffles into SPARK_LOCAL_DIRS whenever it is set and
    ignores spark.local.dir, so with only that variable set (on disk)
    the tmpfs default must not apply, nor its compression-off."""
    compress, local_dir = _probe(tmp_path, SPARK_LOCAL_DIRS=str(tmp_path))
    assert compress != "false"
    assert local_dir == "unset"


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs")
def test_tmpfs_default_is_per_user(tmp_path):
    """With no scratch variable set, the tmpfs default is the OS
    user's own dir: /dev/shm is shared by every user of the host."""
    _, local_dir = _probe(tmp_path)
    assert local_dir.endswith(f"-{os.getuid()}")
