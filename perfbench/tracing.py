"""Span tracing from outside the program.

``Tracer.install`` wraps the public functions and methods the crawl driver
calls into (by replacing module and class attributes) so that every call
records a span: name, start, end, parent span and wave. Spans are kept in
memory; the summariser turns them into per-layer numbers after the run.

Each span also tags the Spark jobs it starts with its id as the job group,
so ``event_log_metrics`` can attribute shuffle, spill, task skew and GC
from the Spark event log to the span (and its layer) that caused them.

Layers that return lazy frames (link extraction, tracker probe, robots
filter, merge-on-read reads, sequence assignment, fetch) have their result
persisted and counted inside their own span, so the work is charged to the
layer that defines it rather than the one that later triggers it. The
frames are released when the wave ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it covered by child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            children.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"])))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], [])) for s in spans}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """Records spans for one crawl or curation session."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._held: list = []  # frames persisted by wrappers, per wave
        self._cadence: int | None = None
        self.wave = -1

    # -------------------------------------------------------------- spans
    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(sid), self.spans[sid]["name"])

    def _open(self, name: str, parent: int | None) -> dict:
        sp = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
              "end": None, "parent": parent, "wave": self.wave}
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else self._cadence
        sp = self._open(name, parent)
        self._stack.append(sp["id"])
        self._set_group(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else self._cadence)

    def start_wave(self, wave: int) -> None:
        """Close the running wave cadence and open the next one."""
        self.end_wave()
        self.wave = wave
        self._cadence = self._open("crawler.cadence", None)["id"]
        self._set_group(self._cadence)

    def end_wave(self) -> None:
        if self._cadence is not None:
            self.spans[self._cadence]["end"] = time.perf_counter()
            self._cadence = None
            self._set_group(None)
        for df in self._held:
            df.unpersist()
        self._held = []

    def hold(self, df):
        """Persist ``df`` until the wave ends; return it."""
        self._held.append(df.persist())
        return df

    # ------------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a traced call. ``after(span, result,
        args)`` runs inside the span (to materialise lazy results and record
        counters) and may return a replacement result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    out = after(sp, out, args)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        self.end_wave()
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    def install(self) -> None:
        """Wrap every layer boundary of the crawl driver."""
        from polipus_spark import catalog
        from polipus_spark.functions import robots
        from polipus_spark.operators import frontier, tracker
        from polipus_spark.plans import crawler

        hold = self.hold

        def materialise(sp, out, args):
            sp["rows"] = hold(out).count()
            return out

        def fetch_after(sp, out, args):
            r = hold(out).agg(
                F.count("*").alias("n"),
                F.sum(F.size("aliases")).alias("hops"),
                F.sum(F.col("error").isNotNull().cast("long")).alias("err"),
            ).collect()[0]
            sp.update(rows=r["n"], hops=r["hops"] or 0, errors=r["err"] or 0)
            return out

        def links_after(sp, out, args):
            sp["pages"] = args[0].count()
            return materialise(sp, out, args)

        def robots_after(sp, out, args):
            sp["rows_in"] = args[0].count()
            return materialise(sp, out, args)

        def probe_after(sp, out, args):
            r = hold(out).agg(
                F.count("*").alias("n"),
                F.sum(F.col("_seen").cast("long")).alias("hit"),
            ).collect()[0]
            sp.update(rows=r["n"], hits=r["hit"] or 0)
            return out

        def mark_after(sp, out, args):
            sp["rows"] = args[1].count()
            return out

        def push_after(sp, out, args):
            sp["rows"] = out[0]
            return out

        def written_after(sp, version, args):
            table = args[0]
            sp["bytes"] = dir_bytes(os.path.join(table.path, f"snap-{version:06d}"))
            return version

        self.wrap(crawler.PolipusCrawler, "process_wave", "crawler.wave")
        self.wrap(crawler, "fetch_wave", "fetch.wave", fetch_after)
        self.wrap(crawler, "extract_links", "links.extract", links_after)
        self.wrap(robots, "filter_robots_allowed", "robots.filter", robots_after)
        self.wrap(frontier.Frontier, "pop", "frontier.pop")
        self.wrap(frontier.Frontier, "push", "frontier.push", push_after)
        self.wrap(frontier.Frontier, "compact", "frontier.compact")
        self.wrap(frontier, "with_global_seq", "seq.assign", materialise)
        for cls in (tracker.ExactTracker, tracker.BloomTracker):
            self.wrap(cls, "probe", "tracker.probe", probe_after)
            self.wrap(cls, "mark_seen", "tracker.mark", mark_after)
            self.wrap(cls, "compact", "tracker.compact")
        t = catalog.SnapshotTable
        self.wrap(t, "append", "catalog.append", written_after)
        self.wrap(t, "overwrite", "catalog.overwrite", written_after)
        self.wrap(t, "read_latest_by", "catalog.read_latest", materialise)
        self.wrap(t, "vacuum", "catalog.vacuum")


# ------------------------------------------------------------- summaries
CRAWL_LAYERS = ("crawler", "frontier", "seq", "fetch", "links", "robots",
                "tracker", "catalog")
WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def summarise(spans: list[dict]) -> dict:
    """Per span name: calls, busy (self) seconds, and summed counters."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, "busy_s": 0.0})
        agg["calls"] += 1
        agg["busy_s"] += st[s["id"]]
        for k, v in s.items():
            if k not in ("id", "name", "start", "end", "parent", "wave") and v is not None:
                agg[k] = agg.get(k, 0) + v
    return out


def wave_accounting(spans: list[dict]) -> float:
    """Largest gap, over waves, between a wave's cadence and the sum of the
    self times of every span inside it (0 when spans tile the wave)."""
    st = self_times(spans)
    worst = 0.0
    for c in spans:
        if c["name"] != "crawler.cadence":
            continue
        inside = sum(st[s["id"]] for s in spans if s["wave"] == c["wave"])
        worst = max(worst, abs(inside - (c["end"] - c["start"])))
    return worst


def event_log_metrics(log_dir: str, spans: list[dict],
                      layers: tuple[str, ...] = CRAWL_LAYERS) -> dict:
    """Per layer: shuffle bytes written, bytes spilled to disk, task skew
    (max over stages of max/median task run time) and GC seconds of the
    jobs whose job group is a span of that layer. Also the number of jobs
    per wave cadence."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    name_of = {str(s["id"]): s["name"] for s in spans}
    wave_of = {str(s["id"]): s["wave"] for s in spans}
    stage_layer: dict[int, str] = {}
    jobs_per_wave: dict[int, int] = {}
    tasks: dict[int, list[int]] = {}
    per_layer = {name: {"shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0}
                 for name in layers}
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.startswith(WANTED):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group not in name_of:
                        continue
                    w = wave_of[group]
                    jobs_per_wave[w] = jobs_per_wave.get(w, 0) + 1
                    layer = name_of[group].split(".")[0]
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if layer not in per_layer or not m:
                        continue
                    acc = per_layer[layer]
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    skew: dict[str, float] = {}
    for sid, times in tasks.items():
        if len(times) < 2:
            continue
        med = statistics.median(times)
        ratio = max(times) / med if med > 0 else 1.0
        layer = stage_layer[sid]
        skew[layer] = max(skew.get(layer, 1.0), ratio)
    out: dict[str, float] = {}
    for layer, acc in per_layer.items():
        out[f"{layer}.shuffle_bytes"] = acc["shuffle_bytes"]
        out[f"{layer}.spill_bytes"] = acc["spill_bytes"]
        out[f"{layer}.task_skew"] = skew.get(layer, 1.0)
        out[f"{layer}.gc_s"] = acc["gc_ms"] / 1000.0
    if "crawler" in layers:
        waves = [n for w, n in jobs_per_wave.items() if w >= 0]
        out["crawler.wave.jobs"] = statistics.mean(waves) if waves else 0.0
    return out


def crawl_layer_metrics(spans: list[dict], res: dict) -> dict:
    """The per-layer metrics of a traced crawl session (see README)."""
    metric_rows = res["rows"]
    waves = [s for s in spans if s["wave"] >= 0]
    sm = summarise(waves)

    def g(name, key="busy_s"):
        return float(sm.get(name, {}).get(key, 0))

    def ratio(a, b):
        return a / b if b else 0.0

    sched = sum(r["scheduled"] for r in metric_rows)
    pending = [r["next_seq"] - r["scheduled_total"] for r in metric_rows]
    app_bytes = g("catalog.append", "bytes") + g("catalog.overwrite", "bytes")
    return {
        "crawler.wave.self_s": g("crawler.wave"),
        "crawler.cadence.self_s": g("crawler.cadence"),
        "crawler.dedup_ratio": ratio(sum(r["dedup_hits"] for r in metric_rows), sched),
        "crawler.policy_drop_ratio": ratio(
            sum(r["policy_dropped"] for r in metric_rows), sched),
        "frontier.pop.busy_s": g("frontier.pop"),
        "frontier.pop.rows": float(sched),
        "frontier.pending.rows": statistics.mean(pending) if pending else 0.0,
        "frontier.push.busy_s": g("frontier.push"),
        "frontier.push.rows": g("frontier.push", "rows"),
        "frontier.compact.busy_s": g("frontier.compact"),
        "seq.assign.busy_s": g("seq.assign"),
        "fetch.wave.busy_s": g("fetch.wave"),
        "fetch.rows": g("fetch.wave", "rows"),
        "fetch.hops": g("fetch.wave", "hops"),
        "fetch.error_ratio": ratio(g("fetch.wave", "errors"), g("fetch.wave", "rows")),
        "links.extract.busy_s": g("links.extract"),
        "links.rows_out": g("links.extract", "rows"),
        "links.per_page": ratio(g("links.extract", "rows"), g("links.extract", "pages")),
        "robots.filter.busy_s": g("robots.filter"),
        "robots.denied_ratio": ratio(
            g("robots.filter", "rows_in") - g("robots.filter", "rows"),
            g("robots.filter", "rows_in")),
        "tracker.probe.busy_s": g("tracker.probe"),
        "tracker.probe.rows": g("tracker.probe", "rows"),
        "tracker.hit_ratio": ratio(g("tracker.probe", "hits"), g("tracker.probe", "rows")),
        "tracker.mark.busy_s": g("tracker.mark"),
        "tracker.mark.rows": g("tracker.mark", "rows"),
        "tracker.compact.busy_s": g("tracker.compact"),
        "catalog.append.busy_s": g("catalog.append"),
        "catalog.append.calls": g("catalog.append", "calls"),
        "catalog.bytes_written": app_bytes,
        "catalog.read_latest.busy_s": g("catalog.read_latest"),
        "catalog.overwrite.busy_s": g("catalog.overwrite"),
        "catalog.vacuum.busy_s": g("catalog.vacuum"),
        "catalog.snapshots_live": float(res["snapshots_live"]),
        "catalog.write_amp": ratio(app_bytes, res["state_bytes"]),
    }
