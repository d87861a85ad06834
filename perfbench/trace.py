"""Per-layer tracing for the traced benchmark run.

`Tracer.install` wraps the public calls `CrawlEngine.run_epoch` makes into
`storage.snapshots`, `operators.epoch`, `operators.skew`,
`operators.seenset` and `poporder`; `Tracer.restore` puts the originals
back. Each wrapped call runs under its own Spark job group
``e<n>.<phase>``, `n` counting the run's epochs, so the event log
attributes every job, stage and task to one epoch and phase. Driver wall times come from the wrappers; task time, shuffle
and spill bytes come from the event log, parsed after the session stops.
Nothing here is imported or installed when tracing is off.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import crawler_spark.operators.epoch as epoch_mod
import crawler_spark.operators.seenset as seenset_mod
import crawler_spark.operators.skew as skew_mod
from crawler_spark.storage.snapshots import SnapshotStore

GROUP = "spark.jobGroup.id"

# (name, unit, which end-to-end metric it should move, on which workload)
PER_LAYER = [
    ("snapshots.commit_s", "s", "epoch_s on crawl_fixture, history_deep"),
    ("snapshots.commit_jobs", "count", "spark_jobs_per_epoch on crawl_fixture"),
    ("snapshots.commit_task_s", "s", "epoch_s on crawl_fixture, history_deep"),
    ("snapshots.bytes_written.frontier", "B", "write_bytes_per_epoch on frontier_wide"),
    ("snapshots.bytes_written.seen", "B", "write_bytes_per_epoch on history_deep"),
    ("snapshots.bytes_written.documents", "B", "write_bytes_per_epoch"),
    ("snapshots.bytes_written.logs", "B", "write_bytes_per_epoch"),
    ("snapshots.read_s", "s", "epoch_s on history_deep"),
    ("snapshots.table_dirs", "count", "epoch_s on history_deep"),
    ("snapshots.rows.frontier", "count", "state size"),
    ("snapshots.rows.seen", "count", "state size"),
    ("snapshots.rows.documents", "count", "state size"),
    ("schedule.wall_s", "s", "epoch_s, urls_per_s on frontier_wide"),
    ("schedule.jobs", "count", "epoch_s, urls_per_s on frontier_wide"),
    ("schedule.task_s", "s", "epoch_s, urls_per_s on frontier_wide"),
    ("schedule.shuffle_bytes", "B", "epoch_s, urls_per_s on frontier_wide"),
    ("schedule.offered_rows", "count", "ratio base"),
    ("schedule.fill_frac", "frac", "ratio: scheduled / batch budget"),
    ("poporder.pop_schedule_s", "s", "control: nothing anywhere"),
    ("enqueue.wall_s", "s", "epoch_s on crawl_fixture, history_deep"),
    ("enqueue.jobs", "count", "spark_jobs_per_epoch on crawl_fixture"),
    ("enqueue.task_s", "s", "epoch_s on crawl_fixture, history_deep"),
    ("skew.dense_seq_jobs", "count", "spark_jobs_per_epoch, epoch_s on crawl_fixture"),
    ("enqueue.accept_frac", "frac", "ratio: enqueued / candidates"),
    ("enqueue.seen_filtered_frac", "frac", "ratio: seen-filtered / candidates"),
    ("counters.wall_s", "s", "epoch_s on all workloads"),
    ("counters.jobs", "count", "epoch_s on all workloads"),
    ("counters.task_s", "s", "epoch_s on all workloads"),
    ("counters.shuffle_bytes", "B", "epoch_s on all workloads"),
    ("seenset.build_forced_s", "s", "epoch_s on history_deep (elsewhere: the unused layer's cost)"),
    ("seenset.probe_forced_s", "s", "epoch_s on history_deep (elsewhere: the unused layer's cost)"),
    ("seenset.bloom_negative_frac", "frac", "useful outcomes: bloom-negative / probed"),
    ("fetch.plan_s", "s", "workload mix: must not move"),
    ("fetch.processed_frac", "frac", "workload mix: must not move"),
    ("fetch.storage_hit_frac", "frac", "workload mix: must not move"),
    ("expand.children_per_processed", "count", "workload mix: must not move"),
    ("epoch.jobs", "count", "spark_jobs_per_epoch on all workloads"),
    ("epoch.stages", "count", "epoch_s on all workloads"),
    ("epoch.tasks", "count", "epoch_s on all workloads"),
    ("epoch.task_s", "s", "epoch_s on frontier_wide, history_deep"),
    ("epoch.cpu_busy_frac", "frac", "low on crawl_fixture, high on frontier_wide"),
    ("epoch.driver_gap_s", "s", "epoch_s on crawl_fixture"),
    ("epoch.shuffle_write_bytes", "B", "epoch_s on frontier_wide"),
    ("epoch.spill_bytes", "B", "epoch_s and peak RSS on frontier_wide"),
    ("trace_overhead_frac", "frac", "traced / untraced epoch_s - 1"),
]

# ROADMAP's re-anchor profile of the parity fixture epoch on local[4]:
# (what, ROADMAP value, unit, per-layer metric or None for the epoch wall)
ROADMAP_PROFILE = [
    ("epoch wall", 12.3, "s", None),
    ("Spark jobs per epoch", 59, "count", "epoch.jobs"),
    ("jobs fired by dense_global_seq", 23, "count", "skew.dense_seq_jobs"),
    ("commit (8 parquet writes)", 4.0, "s", "snapshots.commit_s"),
    ("enqueue_batch", 4.0, "s", "enqueue.wall_s"),
    ("the counter action", 1.3, "s", "counters.wall_s"),
    ("fetch/route planning", 0.7, "s", "fetch.plan_s"),
]

# what is wrapped: (owner, attribute)
TARGETS = [
    (epoch_mod, "pop_schedule"),
    (epoch_mod, "enqueue_batch"),
    (epoch_mod, "collect_fate_counters"),
    (skew_mod, "salted_topk_per_group"),
    (skew_mod, "dense_global_seq"),
    (seenset_mod, "build_filters"),
    (seenset_mod, "probe_candidates"),
    (SnapshotStore, "commit"),
    (SnapshotStore, "read"),
]

PHASE_OF = {
    "enqueue_batch": "enqueue",
    "collect_fate_counters": "counters",
    "salted_topk_per_group": "skew.topk",
    "dense_global_seq": "skew.dense_seq",
    "build_filters": "seenset.build",
    "probe_candidates": "seenset.probe",
    "commit": "commit",
    "read": "read",
}


class Tracer:
    """Wrappers plus the per-epoch driver-side record they fill."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.originals: dict[tuple, object] = {}
        self.epoch = None  # the record of the epoch in flight

    # -- install / restore ------------------------------------------------
    def install(self) -> None:
        for owner, attr in TARGETS:
            fn = owner.__dict__[attr]
            self.originals[(owner, attr)] = fn
            setattr(owner, attr, self._wrap(attr, fn))

    def restore(self) -> None:
        for (owner, attr), fn in self.originals.items():
            setattr(owner, attr, fn)
        self.originals.clear()

    @staticmethod
    def restored() -> bool:
        """True when no target is one of our wrappers."""
        return not any(getattr(getattr(o, a), "_perfbench", False) for o, a in TARGETS)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP, group)

    def _wrap(self, attr: str, fn):
        def wrapper(*args, **kwargs):
            rec = self.epoch
            if rec is None:  # a call outside a traced epoch: untouched
                return fn(*args, **kwargs)
            if attr == "pop_schedule":
                return self._pop_schedule(rec, fn, *args, **kwargs)
            phase = PHASE_OF[attr]
            prev = self.sc.getLocalProperty(GROUP)
            self._set_group(f"e{rec['n']}.{phase}")
            t0 = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                rec["wall"][phase] = rec["wall"].get(phase, 0.0) + time.time() - t0
                self._set_group(prev)
            if attr == "enqueue_batch":
                rec["enqueue_return"] = time.time()
                rec["enqueue_args"] = args
            elif attr == "build_filters":
                rec["build_args"] = (args, kwargs)
            elif attr == "probe_candidates":
                rec["probe_args"] = (args, kwargs)
            return out

        wrapper._perfbench = True
        return wrapper

    def _pop_schedule(self, rec, fn, counts, *args, **kwargs):
        """Closes the schedule phase (epoch entry -> here); everything after
        it until the next wrapped call is fetch/route/expand planning."""
        t0 = time.time()
        rec["wall"]["schedule"] = t0 - rec["t0"]
        rec["offered_rows"] = sum(counts.values())
        self._set_group(f"e{rec['n']}.poporder")
        out = fn(counts, *args, **kwargs)
        t1 = time.time()
        rec["wall"]["poporder"] = t1 - t0
        rec["pop_return"] = t1
        self._set_group(f"e{rec['n']}.fetch")
        return out

    # -- one epoch --------------------------------------------------------
    def begin(self, n: int) -> None:
        """Start tracing the run's `n`-th epoch; its job groups are ``e<n>.*``."""
        self.epoch = {"n": n, "wall": {}, "t0": time.time()}
        self._set_group(f"e{n}.schedule")

    def end(self) -> dict:
        rec, self.epoch = self.epoch, None
        rec["t1"] = time.time()
        self._set_group(None)
        return rec


def force_seenset(rec: dict, n_parts: int) -> dict:
    """Run `build_filters`/`probe_candidates` to completion on the epoch's
    own inputs with a noop write (the layer is lazy inside the epoch). With
    the seen filters on, these are the calls the epoch made. With them off
    the epoch makes none; the layer then runs on the seen set and the
    candidates `enqueue_batch` received, over `n_parts` partitions, to show
    what it would cost there. The probe's inputs are materialized first so
    its time is the probe's alone."""
    if "build_args" in rec and "probe_args" in rec:
        (b_args, b_kw), (p_args, p_kw) = rec["build_args"], rec["probe_args"]
    elif "enqueue_args" in rec:
        entries, seen = rec["enqueue_args"][:2]
        (b_args, b_kw), (p_args, p_kw) = ((seen, "seen_hash", n_parts), {}), ((entries, None, "url_hash", n_parts), {})
    else:
        return {}
    build, probe = seenset_mod.build_filters, seenset_mod.probe_candidates
    t0 = time.time()
    built = build(*b_args, **b_kw)
    built.write.format("noop").mode("overwrite").save()
    build_s = time.time() - t0
    cands = p_args[0].localCheckpoint(eager=True)
    filters = built.localCheckpoint(eager=True)
    t0 = time.time()
    probed = probe(cands, filters, *p_args[2:], **p_kw)
    probed.write.format("noop").mode("overwrite").save()
    probe_s = time.time() - t0
    from pyspark.sql import functions as F

    agg = probed.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.when(~F.col("maybe_seen"), 1).otherwise(0)).alias("neg")
    ).first()
    return {
        "seenset.build_forced_s": build_s,
        "seenset.probe_forced_s": probe_s,
        "seenset.bloom_negative_frac": (agg["neg"] or 0) / agg["n"] if agg["n"] else 0.0,
    }


# -- event log ----------------------------------------------------------------

def read_event_log(event_dir: str) -> dict:
    """Per job group: jobs, stages, tasks, task seconds, shuffle-write and
    spill bytes, and the [submit, complete] interval of each job."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def g(name):
        return groups.setdefault(name, {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
                                        "shuffle_bytes": 0, "spill_bytes": 0, "intervals": []})

    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(GROUP)
                    if grp:
                        job_group[ev["Job ID"]] = grp
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                        g(grp)["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    g(job_group[ev["Job ID"]])["intervals"].append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get(GROUP)
                    if grp:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                        g(grp)["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    rec = g(stage_group[ev["Stage ID"]])
                    tm = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    rec["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return groups


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def epoch_layer_metrics(rec: dict, groups: dict, cores: int) -> dict:
    """The event-log and wrapper numbers of one traced epoch."""
    prefix = f"e{rec['n']}."

    def grp(*phases):
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "intervals": []}
        for name, v in groups.items():
            if name.startswith(prefix) and (not phases or name[len(prefix):] in phases):
                for k in out:
                    out[k] = out[k] + v[k]
        return out

    wall = rec["t1"] - rec["t0"]
    w = rec["wall"]
    whole, sched, enq, cnt, com = (
        grp(), grp("schedule", "skew.topk", "read"), grp("enqueue", "skew.dense_seq", "seenset.probe"),
        grp("counters"), grp("commit"),
    )
    busy = _busy(whole["intervals"], rec["t0"], rec["t1"])
    return {
        "snapshots.commit_s": w.get("commit", 0.0),
        "snapshots.commit_jobs": com["jobs"],
        "snapshots.commit_task_s": com["task_s"],
        "snapshots.read_s": w.get("read", 0.0),
        "schedule.wall_s": w.get("schedule", 0.0),
        "schedule.jobs": sched["jobs"],
        "schedule.task_s": sched["task_s"],
        "schedule.shuffle_bytes": sched["shuffle_bytes"],
        "schedule.offered_rows": rec.get("offered_rows", 0),
        "poporder.pop_schedule_s": w.get("poporder", 0.0),
        "enqueue.wall_s": w.get("enqueue", 0.0),
        "enqueue.jobs": enq["jobs"],
        "enqueue.task_s": enq["task_s"],
        "skew.dense_seq_jobs": grp("skew.dense_seq")["jobs"],
        "counters.wall_s": w.get("counters", 0.0),
        "counters.jobs": cnt["jobs"],
        "counters.task_s": cnt["task_s"],
        "counters.shuffle_bytes": cnt["shuffle_bytes"],
        # pop_schedule return -> enqueue_batch return, minus the enqueue call
        "fetch.plan_s": max(rec.get("enqueue_return", rec["t1"]) - rec.get("pop_return", rec["t0"])
                            - w.get("enqueue", 0.0), 0.0),
        "epoch.jobs": whole["jobs"],
        "epoch.stages": whole["stages"],
        "epoch.tasks": whole["tasks"],
        "epoch.task_s": whole["task_s"],
        "epoch.cpu_busy_frac": whole["task_s"] / (wall * cores),
        "epoch.driver_gap_s": wall - busy,
        "epoch.shuffle_write_bytes": whole["shuffle_bytes"],
        "epoch.spill_bytes": whole["spill_bytes"],
    }


def medians(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}
