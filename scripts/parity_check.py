"""Ad-hoc parity check: Spark engine vs pure-Python reference simulator,
judged by the benchmark's parity gate (schedule log, seen set, latest
documents).

Usage: python scripts/parity_check.py [n_names n_seeds host_budget batch_budget]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.data.generators import (
    gen_registry_py,
    gen_robots_py,
    gen_seeds_py,
    registry_df,
    robots_df,
    seeds_df,
)
from crawler_spark.operators.epoch import CrawlEngine
from crawler_spark.session import get_spark
from crawler_spark.simulator import CrawlSimulator
from crawler_spark.storage.snapshots import SnapshotStore
from perfbench.gate import engine_state, parity_violations


def main() -> int:
    n_names, n_seeds, host_budget, batch_budget = (
        int(a) for a in (sys.argv[1:5] or [20, 12, 4, 10])
    )
    spark = get_spark(parallelism=8, shuffle_partitions=8)
    reg_rows = gen_registry_py(n_names)
    seed_rows = gen_seeds_py(n_seeds, n_names=n_names)
    robot_rows = gen_robots_py()

    sim = CrawlSimulator(reg_rows, robot_rows, host_budget=host_budget, batch_budget=batch_budget)
    sres = sim.run(seed_rows, max_epochs=80)
    print("sim epochs", sres.epochs_run, "log", len(sres.schedule_log))

    with tempfile.TemporaryDirectory() as root:
        store = SnapshotStore(spark, root)
        eng = CrawlEngine(
            spark, store, registry_df(spark, reg_rows), robots_df(spark, robot_rows),
            host_budget=host_budget, batch_budget=batch_budget,
        )
        t0 = time.time()
        metrics = eng.run(seeds_df(spark, seed_rows), max_epochs=80)
        print("spark done", round(time.time() - t0, 1), "s, epochs", len(metrics))

        state = engine_state(store)
        violations = parity_violations(state, sres)
        # engine_state's seen dict hides a key stored twice (in two dirs)
        n_seen = store.read("seen").count()
        if n_seen != len(state["seen"]):
            violations.append(f"seen_key not unique ({n_seen} rows, {len(state['seen'])} keys)")
        for v in violations:
            print(v)
        ok = not violations
        print("PARITY:", "OK" if ok else "FAIL")
        spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
