"""Expected crawl results from the sequential reference simulator.

The simulator runs on the same generated docs and options as the Spark
session. Its results are reduced to per-wave records that a session cut
short at any wave boundary can be compared against:

  * the wave's metrics row (scheduled, fetched, errors, enqueued,
    dedup_hits, policy_dropped, stored);
  * a digest of the wave's slice of the crawl order;
  * a digest of the URL-seen set after the wave (order-independent).

Results are cached as JSON per (workload, seed, generator version).
"""

from __future__ import annotations

import hashlib
import json
import os

METRIC_KEYS = ("scheduled", "fetched", "errors", "enqueued", "dedup_hits",
               "policy_dropped", "stored")


def list_digest(items: list[str]) -> str:
    h = hashlib.sha256()
    for s in items:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def set_digest(keys) -> str:
    """Order-independent digest: count and sum of 64-bit key hashes."""
    total = 0
    n = 0
    for k in keys:
        total = (total + int(hashlib.md5(k.encode()).hexdigest()[:16], 16)) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def _session_waves(sim, first_wave: int, order_start: int) -> list[dict]:
    """Per-wave records of the simulator waves numbered ≥ ``first_wave``."""
    out = []
    pos = order_start
    for m in sim.metrics:
        if m["wave"] < first_wave or m["scheduled"] == 0:
            continue
        n = m.get("stored", 0)
        order = sim.crawl_order[pos:pos + n]
        pos += n
        seen = {r["tracker_key"] for r in sim.frontier
                if not r["is_seed"] and r["discovery_ts"] <= m["wave"]}
        out.append({
            "wave": m["wave"],
            "row": [m.get(k, 0) for k in METRIC_KEYS],
            "order": list_digest(order),
            "seen": set_digest(seen),
        })
    return out


def simulate(docs_v1, opts, seeds, docs_v2=None, opts_v2=None, clock_fn=None):
    """Run the reference simulator: one session, or (recrawl) a first session
    on ``docs_v1`` and a second on ``docs_v2`` against the same state.
    Returns the per-wave records of the last session."""
    from polipus_spark.simulator import CrawlSimulator

    sim = CrawlSimulator(docs_v1, opts, clock_fn=clock_fn)
    sim.takeover(seeds)
    if docs_v2 is None:
        return {"waves": _session_waves(sim, 0, 0)}
    first_wave, order_start = sim.next_wave, len(sim.crawl_order)
    sim.corpus = {d["doc_id"]: d for d in docs_v2}
    sim.opts = opts_v2
    sim.takeover(seeds)
    return {"waves": _session_waves(sim, first_wave, order_start)}


def cached(path: str, compute):
    """Load ``path`` as JSON, or compute, store atomically and return it."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value
