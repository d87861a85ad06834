"""Correctness gate: every benchmarked epoch's output is checked before
its time counts.

``crawl_fixture`` must match the pure-Python `CrawlSimulator` exactly
(schedule log, seen set, latest documents) for the same epoch, the recipe of
``scripts/parity_check.py``. The scale workloads have no oracle; their
epochs are checked against invariants read back from the store. The
collection step (Spark) and the judging step (pure Python) are separate so
the judges can be tested on tampered inputs without a session.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.simulator import CrawlSimulator
from crawler_spark.storage.snapshots import SnapshotStore

LOG_FIELDS = ("epoch", "pop_index", "type", "url", "queue", "scope", "outcome", "attempt")
OUTCOME_FIELDS = ("processed", "traversed", "excluded", "skipped", "requeued", "deadlettered")


# -- crawl_fixture: exact parity with the simulator ---------------------------

def simulate(wl, epochs: list[int]):
    """The simulator's result of seeding and then running `epochs`."""
    sim = CrawlSimulator(
        wl.registry_rows, wl.robots_rows,
        host_budget=wl.size["host_budget"], batch_budget=wl.size["batch_budget"], rng_seed=wl.rng_seed,
    )
    sim.seed(wl.seed_rows)
    for e in epochs:
        sim.run_epoch(e)
    return sim.res


def engine_state(store: SnapshotStore) -> dict:
    """Schedule log, seen map and latest documents of the store's head."""
    log = [tuple(r[f] for f in LOG_FIELDS) for r in store.read("schedule_log").collect()]
    seen = {r["seen_key"]: r["first_seen_epoch"] for r in store.read("seen").collect()}
    latest: dict = {}
    for r in store.read("documents").collect():
        if r["doc_id"] not in latest or r["epoch"] > latest[r["doc_id"]]["epoch"]:
            latest[r["doc_id"]] = r
    docs = {
        k: {
            "spans": [s.asDict() for s in r["spans"]],
            "etag": r["etag"],
            "fetched_at": r["fetched_at_epoch"],
            "processed_at": r["processed_at_epoch"],
            "version": r["version"],
            "release_date": r["release_date"],
        }
        for k, r in latest.items()
    }
    return {"log": log, "seen": seen, "docs": docs}


def parity_violations(state: dict, sim) -> list[str]:
    """Differences between the engine's state and the simulator's."""
    def order(rows):
        return sorted(rows, key=lambda t: (t[0], t[1], t[3]))

    want_log = order(tuple(r[f] for f in LOG_FIELDS) for r in sim.schedule_log)
    out = []
    if order(state["log"]) != want_log:
        out.append(f"schedule_log differs ({len(state['log'])} rows vs {len(want_log)} simulated)")
    if state["seen"] != sim.seen:
        out.append(f"seen differs ({len(state['seen'])} keys vs {len(sim.seen)} simulated)")
    if state["docs"] != sim.documents:
        out.append(f"documents differ ({len(state['docs'])} docs vs {len(sim.documents)} simulated)")
    return out


# -- scale workloads: invariants read back from the store ----------------------

def epoch_facts(store: SnapshotStore, epoch: int) -> dict:
    """Everything the invariants judge, for `epoch` at the store's head."""
    log = store.read("schedule_log").filter(F.col("epoch") == epoch)
    pops = [r[0] for r in log.filter(F.col("pop_index") >= 0).select("pop_index").collect()]
    hosts = store.read("epoch_host_metrics").filter(F.col("epoch") == epoch).agg(
        F.max("scheduled").alias("mx"), F.sum("scheduled").alias("sm")
    ).first()
    metrics = store.read("epoch_metrics").filter(F.col("epoch") == epoch).first().asDict()
    frontier = store.read("frontier").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("enqueued_seq").alias("u")
    ).first()
    seen = store.read("seen").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("seen_key").alias("u")
    ).first()
    return {
        "pop_indexes": pops,
        "host_max": hosts["mx"] or 0,
        "host_sum": hosts["sm"] or 0,
        "metrics": metrics,
        "frontier_rows": frontier["n"],
        "frontier_unique_seq": frontier["u"],
        "seen_rows": seen["n"],
        "seen_unique_keys": seen["u"],
        "next_seq": int(store.snapshot().meta["next_seq"]),
    }


def invariant_violations(facts: dict, before: dict, host_budget: int, batch_budget: int) -> list[str]:
    """Broken invariants of one epoch; `before` holds the pristine store's
    `frontier_rows` and `next_seq`."""
    m = facts["metrics"]
    n = len(facts["pop_indexes"])
    out = []
    if n > batch_budget:
        out.append(f"scheduled {n} > batch budget {batch_budget}")
    if facts["host_max"] > host_budget:
        out.append(f"a host got {facts['host_max']} > host budget {host_budget}")
    if facts["host_sum"] != n:
        out.append(f"per-host scheduled sum {facts['host_sum']} != {n} scheduled")
    if sorted(facts["pop_indexes"]) != list(range(n)):
        out.append("pop_index is not dense from 0")
    if facts["seen_unique_keys"] != facts["seen_rows"]:
        out.append(f"seen_key not unique ({facts['seen_rows']} rows, {facts['seen_unique_keys']} keys)")
    if facts["frontier_unique_seq"] != facts["frontier_rows"]:
        out.append("enqueued_seq not unique")
    outcomes = sum(m[f] for f in OUTCOME_FIELDS)
    if not outcomes == m["scheduled"] == n:
        out.append(f"outcome counters sum {outcomes}, counter {m['scheduled']}, log {n}")
    # robots-excluded rows leave the frontier without being scheduled
    want = before["frontier_rows"] - n - m["robots_excluded"] + m["enqueued"]
    if facts["frontier_rows"] != want:
        out.append(f"frontier rows {facts['frontier_rows']} != {before['frontier_rows']} - {n} scheduled"
                   f" - {m['robots_excluded']} robots-excluded + {m['enqueued']} enqueued")
    if facts["next_seq"] != before["next_seq"] + m["enqueued"]:
        out.append("next_seq did not advance by the enqueued count")
    return out
