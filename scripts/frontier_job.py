"""One engine epoch at a given parallelism — the scaling probe. Usage:
  python scripts/frontier_job.py <n_rows> <cpus> [batch] [work_dir] [reps] [warm]
Prints one JSON line with per-rep seconds and the median.

Each rep times `CrawlEngine.run_epoch(0)` on a fresh copy of perfbench's
`frontier_wide` store at <n_rows> frontier rows, batch budget [batch] and
bench.py's host budget, through `bench.engine_epoch_reps` (the function
bench.py's `frontier_epoch` row uses):
* setup (untimed): build the store under [work_dir] and copy it aside;
  [work_dir] is removed at exit.
* [warm] untimed epochs (default 1) prime whole-stage codegen + JIT
  (steady-state epochs reuse compiled plans); 0 → cold timing (use the
  same on both levels).
* -XX:ActiveProcessorCount pins the JVM's visible CPUs so GC/JIT pools
  don't use the whole machine in the small configuration.
* shuffle dirs on /dev/shm — a virtual disk's throughput can vary too
  much for timing; production shuffle runs on local NVMe.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n, cpus = int(sys.argv[1]), int(sys.argv[2])
    batch = int(sys.argv[3]) if len(sys.argv) > 3 else max(n // 8, 100_000)
    work = sys.argv[4] if len(sys.argv) > 4 else f"/tmp/frontier_bench_{n}"
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    warm = int(sys.argv[6]) if len(sys.argv) > 6 else 1
    from crawler_spark.session import get_spark
    from bench import engine_epoch_reps, frontier_wide_size

    spark = get_spark(
        "frontier_job", parallelism=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={cpus}",
            "spark.local.dir": "/dev/shm/spark-bench",
        },
    )
    out = engine_epoch_reps(spark, work, frontier_wide_size(n, batch), reps, warm)
    shutil.rmtree(work)
    times = [round(s, 3) for s in out["reps"]]
    med = statistics.median(times)
    print(json.dumps({
        "n": n, "cpus": cpus, "batch": batch, "reps": times, "scheduled": out["scheduled"],
        "sec": med, "urls_per_sec": round(out["scheduled"] / med),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
