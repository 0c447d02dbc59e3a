"""Record the output signature of each distinct input in ``expected.json``.

    python3 perfbench/record.py

Run from the repository root.  For every distinct input (seeds 0 to
``SEED_CYCLE - 1``) and every workload it writes the input, runs one
repetition, checks the output against the workload's oracle and, only
if that check passes, stores the signature that later runs of any seed
with that input must reproduce.
"""

from __future__ import annotations

import json
import os
import shutil
import sys


def main() -> int:
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [root, here]
    import run
    from workloads import SEED_CYCLE, WORKLOADS

    path = os.path.join(here, "expected.json")
    expected: dict = {}
    work = os.path.join(root, ".perfbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    sess = run.Session(work)
    try:
        spark = sess.start()
        for cls in WORKLOADS.values():
            for seed in range(SEED_CYCLE):
                wl = cls(spark, os.path.join(work, str(seed)), seed)
                wl.generate()
                sig = run.normalize(wl.rep(keep=True))
                errors = wl.verify(sig)
                if errors:
                    print(f"{cls.name} seed {seed}: {errors}",
                          file=sys.stderr)
                    return 1
                expected.setdefault(cls.name, {})[str(seed)] = sig
                print(cls.name, seed, sig, flush=True)
                shutil.rmtree(wl.work)
    finally:
        sess.close()
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
