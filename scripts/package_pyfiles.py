"""Package the engine for `spark-submit --py-files` (north rule: the job
ships to a cluster as a zip of the package, the bench module and the
perfbench workload builders it imports).

Usage: python scripts/package_pyfiles.py [out_zip]   (default /tmp/crawler_spark_pyfiles.zip)
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str) -> str:
    with zipfile.ZipFile(out, "w") as z:
        for root, _, files in os.walk(os.path.join(REPO, "crawler_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
        # bench.py times the engine epoch on perfbench's frontier_wide store
        for f in ("bench.py", "perfbench/__init__.py", "perfbench/workloads.py"):
            z.write(os.path.join(REPO, f), f)
    return out


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/crawler_spark_pyfiles.zip"
    print(build(out))
