"""Benchmark of the real engine epoch, `CrawlEngine.run_epoch`.

    python3 perfbench/run.py --workload crawl_fixture --seed 1 --seconds 10 --trace 0

Run from the repository root. One client in one process on
``local[<cores>]`` runs warm epochs in a closed loop: each epoch starts after
the previous commit returned. Set-up builds the workload's store from the
seed (the pristine store), keeps a copy of it and runs one untimed warm-up
epoch. Every timed epoch first gets a fresh copy of the pristine store and
then runs the same engine epoch as the warm-up, so every epoch does the same
work. Each epoch's output passes the correctness gate (perfbench/gate.py)
or counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer calls (perfbench/trace.py), enables the Spark event log and
prints the per-layer metrics. The last stdout line is one JSON object.
All scratch lives under ``.perfbench_work/`` in the repository root and is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_fixture", "frontier_wide", "history_deep")
# every epoch, warm-up and timed, runs this engine epoch on a copy of the
# pristine store, so every epoch does the same work
EPOCH = 0
LOG_TABLES = ("schedule_log", "deadletters", "epoch_metrics", "epoch_host_metrics", "harvest_events")

END_TO_END = [
    ("epoch_s", "s"),
    ("urls_per_s", "1/s"),
    ("spark_jobs_per_epoch", "count"),
    ("write_bytes_per_epoch", "B"),
    ("setup_s", "s"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test scale")
    return p.parse_args(argv)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class RssSampler:
    """Peak resident memory of this process plus the JVM and its children
    (the Python workers), sampled from /proc while `running`. Each process
    counts its proportional set size (PSS), so pages the forked Python
    workers share are counted once, not once per worker. A child still
    named like its parent has not exec'd yet: the JVM spawns helpers with
    vfork, and such a child reports the JVM's own memory, so it is
    skipped. Walking the JVM's threads for children is the costly part of
    a sample, so the process set is refreshed only every `refresh` samples."""

    def __init__(self, pids: list[int], period: float = 0.2, refresh: int = 5):
        self.roots, self.period, self.refresh = pids, period, refresh
        self.pids: set[int] = set()
        self.samples = 0
        self.peak_kb = 0
        self.running = threading.Event()
        self.stopped = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @classmethod
    def descendants(cls, pid: int) -> list[int]:
        out, todo = [], cls._children(pid)
        while todo:
            p = todo.pop()
            out.append(p)
            todo += cls._children(p)
        return out

    @staticmethod
    def alive(pid: int) -> bool:
        """True while `pid` exists and is not a zombie."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return fh.read().strip()
        except OSError:
            return ""

    def sample(self) -> int:
        if self.samples % self.refresh == 0:
            self.pids = set(self.roots)
            for r in self.roots:
                name = self._comm(r)
                self.pids.update(p for p in self.descendants(r) if self._comm(p) != name)
        self.samples += 1
        return sum(self._pss_kb(p) for p in self.pids)

    def _loop(self):
        while not self.stopped.is_set():
            if self.running.wait(0.2):
                self.peak_kb = max(self.peak_kb, self.sample())
                time.sleep(self.period)

    def close(self):
        self.stopped.set()
        self.running.clear()
        self.thread.join(timeout=5)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this VM's
    CPUs (0 outside a VM). Printed per epoch: on a shared host it explains
    slow epochs that nothing in the engine caused."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def start_spark(work: str, cores: int, event_dir: str | None):
    from crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", parallelism=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    started have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    workers = RssSampler.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while workers and time.time() < deadline:
        workers = [p for p in workers if RssSampler.alive(p)]
        time.sleep(0.1)
    for pid in workers:
        os.kill(pid, signal.SIGKILL)


def store_base(store) -> dict:
    """What the invariants compare an epoch against: the frontier size and
    next sequence number of the state the epoch starts from."""
    return {"frontier_rows": store.read("frontier").count(),
            "next_seq": int(store.snapshot().meta["next_seq"])}


def workload_properties(spark, store, wl, metrics: list[dict]) -> dict:
    """What each workload exists to stress, measured on the pristine store
    and the epochs run: top-host share of the frontier, share of frontier
    rows whose name the registry resolves, share of children already seen."""
    from pyspark.sql import functions as F

    front = store.read("frontier")
    hosts = front.groupBy("host").count().agg(F.max("count").alias("top"), F.sum("count").alias("n")).first()
    names = {(r["provider"], r["namespace"] or "-", r["name"]) for r in wl.registry_rows}
    reg = spark.createDataFrame(list(names), "provider string, _ns string, name string").withColumn("_hit", F.lit(1))
    res = (
        front.withColumn("_ns", F.coalesce("namespace", F.lit("-")))
        .join(F.broadcast(reg), ["provider", "_ns", "name"], "left")
        .agg(F.count("_hit").alias("hit"), F.count(F.lit(1)).alias("n")).first()
    )
    children = sum(m["attenuated"] + m["seen_filtered"] + m["enqueued"] - m["requeued"] for m in metrics)
    return {
        "frontier_rows": hosts["n"],
        "top_host_share": hosts["top"] / hosts["n"],
        "registry_resolved_share": res["hit"] / res["n"],
        "children_already_seen_share": sum(m["seen_filtered"] for m in metrics) / max(children, 1),
    }


def run(args, work: str) -> dict:
    from perfbench.gate import engine_state, epoch_facts, invariant_violations, parity_violations, simulate
    from perfbench.workloads import BUILDERS, SIZES
    from crawler_spark.storage.snapshots import SnapshotStore

    cores = len(os.sched_getaffinity(0))
    size = SIZES[args.workload][args.size]
    event_dir = os.path.join(work, "events") if args.trace else None

    t0 = time.time()
    spark = start_spark(work, cores, event_dir)
    session_s = time.time() - t0
    sampler = None
    try:
        pristine, live = os.path.join(work, "pristine"), os.path.join(work, "store")
        store = SnapshotStore(spark, live)
        t0 = time.time()
        wl = BUILDERS[args.workload](spark, store, args.seed, size)
        build_s = time.time() - t0
        engine = wl.engine(spark, store)
        tracker = spark.sparkContext.statusTracker()
        sampler = RssSampler([os.getpid(), spark.sparkContext._gateway.proc.pid])
        tracer = None
        records: list[dict] = []
        failures: list[str] = []
        t0 = time.time()
        shutil.copytree(live, pristine)
        snapshot_s = time.time() - t0
        # the gate's expectation is the same for every epoch: each one runs
        # epoch EPOCH on a copy of the pristine store
        if args.workload == "crawl_fixture":
            expected, base = simulate(wl, [EPOCH]), None
        else:
            expected, base = None, store_base(store)

        def one_epoch(timed: bool, gated: bool = True) -> dict:
            rec = {"n": len(records)}
            records.append(rec)
            if rec["n"]:
                t = time.time()
                shutil.rmtree(live)
                shutil.copytree(pristine, live)
                rec["restore_s"] = time.time() - t
            jobs_before = set(tracker.getJobIdsForGroup())
            tables_before = {t: dir_bytes(os.path.join(live, "data", t)) for t in os.listdir(os.path.join(live, "data"))}
            if timed:
                sampler.running.set()
            if tracer:
                tracer.begin(rec["n"])
            steal = host_steal_s()
            t = time.time()
            try:
                m = engine.run_epoch(EPOCH)
            except Exception as exc:  # a failed epoch is counted, not fatal
                rec["error"] = f"epoch run {rec['n']} raised {type(exc).__name__}: {exc}"
                failures.append(rec["error"])
                return rec
            finally:
                rec["wall"] = time.time() - t
                rec["steal_s"] = host_steal_s() - steal
                if tracer:
                    rec["trace"] = tracer.end()
                sampler.running.clear()
            rec["metrics"] = m
            rec["jobs"] = len(set(tracker.getJobIdsForGroup()) - jobs_before)
            rec["bytes"] = {t: dir_bytes(os.path.join(live, "data", t)) - tables_before.get(t, 0)
                            for t in os.listdir(os.path.join(live, "data"))}
            if not gated:
                return rec
            t = time.time()
            if expected is not None:
                bad = parity_violations(engine_state(store), expected)
            else:
                bad = invariant_violations(epoch_facts(store, EPOCH), base,
                                           size["host_budget"], size["batch_budget"])
            rec["gate_s"] = time.time() - t
            if bad:
                rec["error"] = f"epoch run {rec['n']}: " + "; ".join(bad)
                failures.append(rec["error"])
            return rec

        # warm-up, part of set-up: the same epoch as every timed one, so the
        # timed epochs' gate covers its output too
        warm = one_epoch(timed=False, gated=False)
        timed: list[dict] = []
        reference = None
        if "error" not in warm:
            if args.trace:
                # one untraced epoch first: the reference that
                # trace_overhead_frac compares the traced epochs against
                from perfbench.trace import Tracer

                reference = one_epoch(timed=False)
                tracer = Tracer(spark)
                tracer.install()
            try:
                while not timed or sum(r["wall"] for r in timed) < args.seconds:
                    rec = one_epoch(timed=True)
                    if tracer and "error" not in rec:
                        rec.update(trace_extras(store, rec, engine.n_filter_parts))
                    timed.append(rec)
            finally:
                if tracer:
                    tracer.restore()
                    if not tracer.restored():
                        failures.append("tracing wrappers were not restored")
        ok = [r for r in timed if "error" not in r]
        t0 = time.time()
        props = workload_properties(spark, SnapshotStore(spark, pristine), wl,
                                    [r["metrics"] for r in records if "metrics" in r])
        props_s = time.time() - t0
    finally:
        if sampler:
            sampler.close()
        t0 = time.time()
        stop_spark(spark)
        teardown_s = time.time() - t0

    for f in failures:
        print("FAILED:", f)
    print(f"workload {args.workload} seed {args.seed} size {args.size} cores {cores}: "
          + ", ".join(f"{k}={v:.4g}" for k, v in props.items()))
    per_layer = None
    if args.trace and ok:
        from perfbench.trace import PER_LAYER, read_event_log

        per_layer = layer_metrics(ok, read_event_log(event_dir), cores, size)
        if reference and "error" not in reference:
            overhead = statistics.median(r["wall"] for r in ok) / reference["wall"] - 1
            per_layer["trace_overhead_frac"]["value"] = overhead
    restores = [r["restore_s"] for r in records if "restore_s" in r]
    restore_s = statistics.median(restores) if restores else 0.0
    e2e = {}
    if ok:
        e2e = {
            "epoch_s": statistics.median(r["wall"] for r in ok),
            "urls_per_s": statistics.median(r["metrics"]["scheduled"] / r["wall"] for r in ok),
            "spark_jobs_per_epoch": statistics.median(r["jobs"] for r in ok),
            "write_bytes_per_epoch": statistics.median(sum(r["bytes"].values()) for r in ok),
            "setup_s": session_s + build_s + warm["wall"] + snapshot_s + restore_s,
        }
    units = dict(END_TO_END)
    print(f"end-to-end ({len(ok)} timed epochs, setup = session {session_s:.2f} s + build {build_s:.2f} s"
          f" + snapshot {snapshot_s:.3f} s + warm-up epoch {warm['wall']:.2f} s + restore {restore_s:.3f} s;"
          f" gate {sum(r.get('gate_s', 0) for r in records):.2f} s, properties {props_s:.2f} s,"
          f" teardown {teardown_s:.2f} s in all):")
    for k, v in e2e.items():
        print(f"  {k:<24} {v:>14.4f} {units[k]}")
    # printed, not a benchmark metric: the JVM heap grows with GC timing, so
    # its run-to-run spread is wider than any regression bound
    print(f"peak_rss_mb {sampler.peak_kb / 1024.0:.1f} MB (driver + JVM + Python workers, PSS, timed epochs)")
    print(f"error_rate {len(failures) / len(records) if ok else 1.0:.4f} ({len(failures)} failed of {len(records)} epochs)")
    for r in records:
        m = r.get("metrics", {})
        kind = "warm-up" if r is warm else "untraced reference" if r is reference else "timed"
        print(f"  epoch run {r['n']} ({kind}): "
              + (f"{r['wall']:.3f} s (host steal {r['steal_s']:.2f} CPU-s), " if "wall" in r else "")
              + ", ".join(f"{k} {m[k]}" for k in ("scheduled", "processed", "enqueued", "seen_filtered") if k in m)
              + (f"; {r['error']}" if "error" in r else ""))
    out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    if per_layer:
        tags = {n: tag for n, _, tag in PER_LAYER}
        print(f"per-layer ({args.workload}, median of {len(ok)} traced epochs; metric -> what it should move):")
        for k, v in per_layer.items():
            print(f"  {k:<36} {v['value']:>14.4f} {v['unit']:<5}  {tags[k]}")
        if args.workload == "crawl_fixture":
            print_roadmap_cross_check(per_layer, e2e["epoch_s"])
        out_metrics = per_layer
    attempted = len(records)
    return {"correct": not failures and bool(ok), "attempted": attempted,
            "failed": len(failures) if ok else attempted, "metrics": out_metrics}


def print_roadmap_cross_check(per_layer: dict, epoch_s: float) -> None:
    """The traced crawl_fixture table next to the ROADMAP re-anchor profile
    (parity fixture on local[4], monkeypatched timers over 6 warm epochs)."""
    from perfbench.trace import ROADMAP_PROFILE

    print("ROADMAP re-anchor cross-check (crawl_fixture): ROADMAP -> measured here")
    for label, want, unit, key in ROADMAP_PROFILE:
        got = epoch_s if key is None else per_layer[key]["value"]
        print(f"  {label:<36} {want:>8.1f} {unit:<5} -> {got:>8.2f} {unit:<5} ({got / want - 1:+.0%})")


def trace_extras(store, rec, n_filter_parts: int) -> dict:
    """Untimed per-epoch numbers the traced run adds: the forced seen-set
    layer, state sizes, manifest dirs read and storage hits."""
    from pyspark.sql import functions as F

    from perfbench.trace import force_seenset

    hosts = store.read("epoch_host_metrics").filter(F.col("epoch") == EPOCH)
    return {
        "forced": force_seenset(rec["trace"], n_filter_parts),
        "rows": {t: store.read(t).count() for t in ("frontier", "seen", "documents")},
        "table_dirs": sum(len(v) for v in store.snapshot(store.current_version() - 1).tables.values()),
        "storage_hits": hosts.agg(F.sum("storage_hits")).first()[0] or 0,
    }


def layer_metrics(ok, groups, cores, size) -> dict:
    """Median per-layer metrics of the traced epochs; also sets each
    epoch's job count from the event log (its jobs carry job groups)."""
    from perfbench.trace import PER_LAYER, epoch_layer_metrics, medians

    rows = []
    for r in ok:
        m = r["metrics"]
        cands = m["attenuated"] + m["seen_filtered"] + m["enqueued"]
        expanded = m["processed"] + m["traversed"]
        row = epoch_layer_metrics(r["trace"], groups, cores)
        r["jobs"] = row["epoch.jobs"]
        row.update(r.get("forced", {}))
        row.update({
            "snapshots.bytes_written.frontier": r["bytes"].get("frontier", 0),
            "snapshots.bytes_written.seen": r["bytes"].get("seen", 0),
            "snapshots.bytes_written.documents": r["bytes"].get("documents", 0),
            "snapshots.bytes_written.logs": sum(r["bytes"].get(t, 0) for t in LOG_TABLES),
            "snapshots.table_dirs": r["table_dirs"],
            "snapshots.rows.frontier": r["rows"]["frontier"],
            "snapshots.rows.seen": r["rows"]["seen"],
            "snapshots.rows.documents": r["rows"]["documents"],
            "schedule.fill_frac": m["scheduled"] / size["batch_budget"],
            "enqueue.accept_frac": m["enqueued"] / cands if cands else 0.0,
            "enqueue.seen_filtered_frac": m["seen_filtered"] / cands if cands else 0.0,
            "fetch.processed_frac": m["processed"] / m["scheduled"] if m["scheduled"] else 0.0,
            "fetch.storage_hit_frac": r["storage_hits"] / m["scheduled"] if m["scheduled"] else 0.0,
            "expand.children_per_processed": (cands - m["requeued"]) / expanded if expanded else 0.0,
        })
        rows.append(row)
    med = medians(rows)
    return {n: {"value": float(med.get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "operators", "epoch.py")):
        print("perfbench: crawler_spark sources not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package; temp files stay in the scratch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
