"""Crawl-session workloads: the timed session and its output check.

Load model: one closed-loop client. The session drives waves back to back
(as ``scripts/submit_crawl.py`` does); the next wave starts when the
previous one has committed.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import threading
import time
import traceback

from corpus import crawl_corpus, grow, seed_urls, write_docs
from harness import WORK, fresh_dir
from oracle import METRIC_KEYS, cached, list_digest, set_digest, simulate
from tracing import dir_bytes


def _clock(spec):
    step = spec.get("wave_clock_s")
    return None if step is None else (lambda wave: wave * step)


def _options(spec, **over):
    from polipus_spark.config import CrawlOptions

    return CrawlOptions(enable_signal_handler=False,
                        **{**spec["options"], **over})


def prepare(name: str, spec: dict, seed: int, tag: str) -> dict:
    """Generate the docs tables (parquet, once per workload and seed) and
    the simulator's expected results (cached). Nothing here is timed."""
    data = os.path.join(WORK, "data", f"{name}-{seed}-{tag}")
    paths = {"docs": os.path.join(data, "docs"),
             "docs_v2": os.path.join(data, "docs_v2")}
    docs = docs_v2 = None

    def generate():
        nonlocal docs, docs_v2
        if docs is None:
            docs = crawl_corpus(seed, **spec["corpus"])
            if spec["kind"] == "recrawl":
                docs_v2 = grow(docs, seed, spec["new_per_host"])
        return docs, docs_v2

    if not os.path.exists(paths["docs"]):
        generate()
        if docs_v2 is not None:
            write_docs(docs_v2, paths["docs_v2"])
        write_docs(docs, paths["docs"])

    def compute():
        d1, d2 = generate()
        seeds = seed_urls(d1, spec["seeds_per_host"], tuple(spec.get("extra_seeds", ())))
        if d2 is None:
            exp = simulate(d1, _options(spec), seeds)
        else:
            # TTL that expires the pages stored before the median stored
            # page's wave, measured at the first wave of session two.
            prep = _options(spec, max_waves=spec["prep_waves"])
            first = simulate(d1, prep, seeds, clock_fn=_clock(spec))
            waves = sorted(w["wave"] for w in first["waves"]
                           for _ in range(w["row"][METRIC_KEYS.index("stored")]))
            step = spec["wave_clock_s"]
            ttl = step * (spec["prep_waves"] - waves[len(waves) // 2])
            exp = simulate(d1, prep, seeds, d2, _options(spec, ttl_page=ttl),
                           clock_fn=_clock(spec))
            exp["ttl_page"] = ttl
        exp["seeds"] = seeds
        return exp

    expected = cached(os.path.join(WORK, "expected", f"{name}-{seed}-{tag}.json"),
                      compute)
    return {"paths": paths, "expected": expected, "data_dir": data}


def _first_session(spark, spec, prep: dict, work_dir: str) -> None:
    """Session one of the recrawl workload (preparation, not timed): built
    in every run by the code under test."""
    from polipus_spark.plans.crawler import PolipusCrawler

    c = PolipusCrawler(spark, spark.read.parquet(prep["paths"]["docs"]),
                       _options(spec, max_waves=spec["prep_waves"]),
                       work_dir, clock_fn=_clock(spec))
    c.takeover(prep["expected"]["seeds"])


class Session:
    """One crawl session with its wave boundaries recorded."""

    def __init__(self, spark, spec, prep, opts, work_dir, tracer=None):
        from polipus_spark.plans.crawler import PolipusCrawler

        self.t0 = time.perf_counter()
        docs_key = "docs_v2" if spec["kind"] == "recrawl" else "docs"
        docs = spark.read.parquet(prep["paths"][docs_key])
        self.crawler = PolipusCrawler(spark, docs, opts, work_dir,
                                      clock_fn=_clock(spec))
        self.work_dir = work_dir
        self.starts: list[tuple[int, float]] = []
        self.timer: threading.Timer | None = None
        self.tracer = tracer
        self.deadline_s: float | None = None
        self.stopped = False  # the deadline stopped the session
        self.crashed = False
        self.t_drain: float | None = None  # start of the empty last pop
        inner = self.crawler.process_wave

        def process_wave(wave, next_seq):
            t = time.perf_counter()
            if not self.starts and self.deadline_s is not None:
                self.timer = threading.Timer(self.deadline_s, self._stop)
                self.timer.start()
            if tracer is not None:
                tracer.start_wave(wave)
            m = inner(wave, next_seq)
            if m["scheduled"]:
                self.starts.append((wave, t))
            else:
                self.t_drain = t
            return m

        self.crawler.process_wave = process_wave

    def _stop(self) -> None:
        self.stopped = True
        self.crawler.stop()

    def run(self, seeds, deadline_s: float | None) -> None:
        """Run the session; an exception ends it and is counted as a failed
        wave by ``check``."""
        self.deadline_s = deadline_s
        try:
            self.crawler.takeover(seeds)
        except Exception:  # noqa: BLE001 — reported as a failed wave
            traceback.print_exc()
            self.crashed = True
        finally:
            self.t_end = time.perf_counter()
            if self.timer is not None:
                self.timer.cancel()
                self.timer.join()
            if self.tracer is not None:
                self.tracer.end_wave()

    @property
    def setup_s(self) -> float:
        return (self.starts[0][1] if self.starts else self.t_end) - self.t0


def snapshots_live(work_dir: str) -> int:
    """Committed snapshots over every table of a crawl store."""
    n = 0
    for table in os.listdir(work_dir):
        manifest = os.path.join(work_dir, table, "_manifest.json")
        if os.path.exists(manifest):
            with open(manifest) as f:
                n += len(json.load(f)["snapshots"])
    return n


def tail_percentile(values: list[float], beyond: int = 10):
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it, or None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond  # the k-th smallest has `beyond` samples above it
    return round(100.0 * k / n, 1), sorted(values)[k - 1]


def check(sess: Session, prep: dict, opts):
    """(waves attempted, waves failed, this session's metric rows, every
    metric row of the store). A wave fails when it raised, never committed,
    or its metrics row or its slice of the crawl order differs from the
    simulator's; a URL-seen set that differs at the end, or a session that
    ended early without being stopped, fails the last wave."""
    c = sess.crawler
    exp = prep["expected"]["waves"]
    first = sess.starts[0][0] if sess.starts else 0
    all_rows = [r.asDict() for r in c.metrics.read().orderBy("wave").collect()]
    total = 0
    for r in all_rows:
        total += r["scheduled"]
        r["scheduled_total"] = total
    skip = sum(r["stored"] for r in all_rows if r["wave"] < first)
    rows = [r for r in all_rows if r["wave"] >= first]
    order = c.crawl_order()[skip:]
    attempted = max(len(sess.starts), len(rows)) + sess.crashed
    # waves that raised or never committed
    failed = max(0, len(sess.starts) - len(rows)) + sess.crashed
    pos = 0
    bad_last = False
    for i, r in enumerate(rows):
        n = r["stored"]
        got = {"row": [r[k] for k in METRIC_KEYS],
               "order": list_digest(order[pos:pos + n])}
        pos += n
        if i >= len(exp) or exp[i]["wave"] != r["wave"] or any(
                got[k] != exp[i][k] for k in got):
            failed += 1
            bad_last = i == len(rows) - 1
    if rows and len(rows) <= len(exp) and not bad_last:
        last = exp[len(rows) - 1]
        ok = True
        if opts.tracker_mode == "exact":
            ok = set_digest(c.seen_set()) == last["seen"]
        stopped_early = len(rows) < len(exp) and not sess.stopped
        if not ok or stopped_early:
            failed += 1
    return attempted, failed, rows, all_rows


def run_crawl(spark, name, spec, prep, seconds, tracer=None, setup_reps=2):
    """Set up ``setup_reps`` times (the last starts the timed session),
    crawl until the session ends or ``seconds`` pass, check."""
    from harness import peak_rss_mb

    seeds = prep["expected"]["seeds"]
    opts = _options(spec)
    if "ttl_page" in prep["expected"]:
        opts = dataclasses.replace(opts, ttl_page=prep["expected"]["ttl_page"])
    t_setups = time.perf_counter()
    setups = []
    timed_dir = fresh_dir("state", "timed")
    if spec["kind"] == "recrawl":
        # set-up repeats would push seeds into the one prepared store
        _first_session(spark, spec, prep, timed_dir)
        setup_reps = 1
    for r in range(setup_reps - 1):
        s = Session(spark, spec, prep, dataclasses.replace(opts, max_waves=0),
                    fresh_dir("state", f"setup{r}"))
        s.run(seeds, None)
        setups.append(s.setup_s)
    t_timed = time.perf_counter()
    if tracer is not None:
        tracer.install()
    sess = Session(spark, spec, prep, opts, timed_dir, tracer)
    try:
        sess.run(seeds, seconds)
    finally:
        if tracer is not None:
            tracer.uninstall()
    if not sess.starts:
        raise RuntimeError(f"{name}: the session ran no wave")
    setups.append(sess.setup_s)
    t_check = time.perf_counter()
    attempted, failed, rows, all_rows = check(sess, prep, opts)

    t_first = sess.starts[0][1]
    marks = [t for _, t in sess.starts] + [sess.t_drain or sess.t_end]
    cadence = [b - a for a, b in zip(marks, marks[1:])]
    pages = sum(r["fetched"] for r in rows)
    state_bytes = dir_bytes(sess.work_dir)
    stored = sum(r["stored"] for r in all_rows)
    result = {
        "attempted": attempted,
        "failed": failed,
        "pages_per_s": pages / (sess.t_end - t_first),
        "wave_p50_s": statistics.median(cadence),
        "wave_tail": tail_percentile(cadence),
        "waves": len(cadence),
        "pages": pages,
        "setup_med_s": statistics.median(setups),
        "state_bytes_per_page": state_bytes / max(1, stored),
        "state_bytes": state_bytes,
        "snapshots_live": snapshots_live(sess.work_dir),
        "peak_rss_mb": peak_rss_mb(spark),
        "phases_s": {"setup_reps": t_timed - t_setups, "session": sess.t_end - t_timed,
                     "check": time.perf_counter() - t_check},
        "rows": rows,
    }
    return result
