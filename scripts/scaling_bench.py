"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency from N to 4N executors; sandbox proxy: local[4] vs local[16]
with the JVM pinned to that many visible CPUs, identical input).

Each parallelism level runs in a FRESH python/JVM process (spark.master
is fixed per JVM) via scripts/frontier_job.py, which reports the median
of 3 timed `CrawlEngine.run_epoch` epochs after an untimed warm epoch.

Usage: python scripts/scaling_bench.py [n_rows] [small_cpus] [big_cpus] [batch]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(n: int, cpus: int, batch: int) -> dict:
    """One measurement in a fresh JVM. With SPARK_GRAFT_SUBMIT=1 the job
    launches via `spark-submit --py-files <engine zip>` (the north rule's
    deployment shape); default is a plain python subprocess (same JVM
    semantics in local mode, faster startup)."""
    # the frontier store on tmpfs (same rationale as bench.py); each level
    # builds the same store from the same seed
    tdir = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    job = [os.path.join(REPO, "scripts", "frontier_job.py"), str(n), str(cpus), str(batch),
           f"{tdir}/frontier_bench_{n}"]
    if os.environ.get("SPARK_GRAFT_SUBMIT") == "1":
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        from package_pyfiles import build

        zip_path = build("/tmp/crawler_spark_pyfiles.zip")
        cmd = ["spark-submit", "--master", f"local[{cpus}]", "--py-files", zip_path] + job
    else:
        cmd = [sys.executable] + job
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True, cwd=REPO,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    big = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    batch = int(sys.argv[4]) if len(sys.argv) > 4 else max(n // 8, 100_000)
    results = {}
    for cpus in (small, big):
        results[cpus] = run_once(n, cpus, batch)
        print(json.dumps(results[cpus]))
    speedup = results[big]["urls_per_sec"] / results[small]["urls_per_sec"]
    efficiency = speedup / (big / small)
    print(json.dumps({
        "n": n, "batch": batch, "small_cpus": small, "big_cpus": big,
        "small_urls_per_sec": results[small]["urls_per_sec"],
        "big_urls_per_sec": results[big]["urls_per_sec"],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
        "meets_target": efficiency >= 0.8,
    }))


if __name__ == "__main__":
    main()
