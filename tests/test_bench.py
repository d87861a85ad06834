"""The bench entry points: the one engine-epoch timer that bench.py's
`frontier_epoch` row and scripts/frontier_job.py share, and the
`spark-submit --py-files` zip that ships them.
"""

from __future__ import annotations

import os
import subprocess
import sys

from crawler_spark.storage.snapshots import SnapshotStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_engine_epoch_reps_times_a_committed_run_epoch(spark, tmp_path):
    import bench
    from perfbench.workloads import SIZES

    out = bench.engine_epoch_reps(spark, str(tmp_path), SIZES["frontier_wide"]["tiny"], reps=1, warm=0)
    assert out["scheduled"] >= 1
    assert len(out["reps"]) == 1 and out["reps"][0] > 0
    snap = SnapshotStore(spark, str(tmp_path / "store")).snapshot()
    # v0 is the untimed build; v1 is the timed run_epoch(0)'s commit
    assert (snap.version, snap.epoch) == (1, 0)
    assert snap.meta["counters"]["scheduled"] == out["scheduled"]
    assert not (tmp_path / "pristine").exists()


def test_pyfiles_zip_imports_bench_outside_the_repo(tmp_path):
    from scripts.package_pyfiles import build

    zip_path = build(str(tmp_path / "pyfiles.zip"))
    probe = (
        "import bench, perfbench.workloads as w; "
        "assert bench.__file__.startswith(%r) and w.__file__.startswith(%r); "
        "print(bench.engine_epoch_reps.__name__, sorted(w.BUILDERS))" % (zip_path, zip_path)
    )
    run = subprocess.run(
        [sys.executable, "-c", probe], cwd=str(tmp_path), capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=zip_path), timeout=120,
    )
    assert run.returncode == 0, run.stderr
    assert "engine_epoch_reps" in run.stdout and "frontier_wide" in run.stdout
