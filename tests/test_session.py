"""Session defaults follow the scratch dirs Spark really uses."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
from pyontutils_spark.session import get_spark
conf = get_spark("session_probe", cores=1, driver_memory="1g").conf
print("PROBE", conf.get("spark.shuffle.compress", "unset"),
      conf.get("spark.local.dir", "unset"))
"""


def test_spark_local_dirs_on_disk_keeps_compression(tmp_path):
    """Spark shuffles into SPARK_LOCAL_DIRS whenever it is set and
    ignores spark.local.dir, so with only that variable set (on disk)
    the tmpfs default must not apply, nor its compression-off."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_LOCAL_DIR",
                        "SPARK_GRAFT_SHUFFLE_COMPRESS")}
    env.update(SPARK_LOCAL_DIRS=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", PROBE], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert line, out.stderr[-2000:]
    _, compress, local_dir = line[0].split()
    assert compress != "false"
    assert local_dir == "unset"
