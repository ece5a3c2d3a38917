"""Curation workload: ``curate_corpus`` plus ``curation_report`` over a
generated text table with planted exact and near-duplicate clusters."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import nullcontext

from corpus import TEXT_ARROW, text_table, write_docs
from harness import WORK
from oracle import cached, list_digest

STAGES = ("input", "quality", "repetition", "decontaminated", "deduped")
PASSES = 2


def prepare(name: str, spec: dict, seed: int, tag: str) -> dict:
    data = os.path.join(WORK, "data", f"{name}-{seed}-{tag}")
    paths = {"docs": os.path.join(data, "docs"),
             "bench": os.path.join(data, "bench")}
    clusters_path = os.path.join(data, "clusters.json")
    if not os.path.exists(clusters_path):
        docs, bench, clusters = text_table(seed, **spec["corpus"])
        write_docs(docs, paths["docs"], TEXT_ARROW)
        write_docs(bench, paths["bench"], TEXT_ARROW)
        cached(clusters_path, lambda: {"clusters": clusters, "n_docs": len(docs)})
    with open(clusters_path) as f:
        planted = json.load(f)
    return {"paths": paths, "planted": planted,
            "record": os.path.join(WORK, "expected", f"{name}-{seed}-{tag}.json")}


def _pass(spark, prep, tracer):
    """One curation pass; returns (stage → surviving docs, final frame)."""
    from polipus_spark.pipeline import curate_corpus, curation_report

    docs = spark.read.parquet(prep["paths"]["docs"])
    bench = spark.read.parquet(prep["paths"]["bench"])
    final, stages = curate_corpus(docs, bench)
    if tracer is not None:
        for name, df in stages.items():
            with tracer.span(f"pipeline.{name}") as sp:
                sp["rows"] = tracer.hold(df).count()
    with tracer.span("pipeline.report") if tracer else nullcontext():
        report = {r["stage"]: r["n_docs"] for r in curation_report(stages).collect()}
    return report, final


def run_curate(spark, name, spec, prep, seconds, tracer=None, setup_reps=2):
    """Set up (read the tables) ``setup_reps`` times, run ``PASSES`` timed
    curation passes (fewer once ``seconds`` have passed), check the last."""
    from harness import peak_rss_mb

    setups = []
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        for path in prep["paths"].values():
            spark.read.parquet(path)
        setups.append(time.perf_counter() - t0)
    times = []
    t_begin = time.perf_counter()
    while len(times) < PASSES and (not times or time.perf_counter() - t_begin < seconds):
        t0 = time.perf_counter()
        report, final = _pass(spark, prep, tracer)
        times.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.end_wave()
    survivors = sorted(r["doc_id"] for r in final.select("doc_id").collect())

    planted = prep["planted"]
    alive = set(survivors)
    failed_stages = set()
    if report.get("input") != planted["n_docs"]:
        failed_stages.add("input")
    counts = [report.get(s) for s in STAGES]
    if None in counts or counts != sorted(counts, reverse=True):
        failed_stages.add("report")
    clusters = planted["clusters"]["exact"] + planted["clusters"]["near"]
    if any(len(alive.intersection(c)) > 1 for c in clusters) \
            or report.get("deduped") != len(survivors):
        failed_stages.add("deduped")
    digest = list_digest([str(i) for i in survivors])
    if cached(prep["record"], lambda: {"survivors": digest})["survivors"] != digest:
        failed_stages.add("deduped")
    n = planted["n_docs"]
    return {
        "attempted": len(report),
        "failed": len(failed_stages),
        "docs_per_s": n / statistics.median(times),
        "passes": len(times),
        "survivors": len(survivors),
        "report": report,
        "setup_med_s": statistics.median(setups),
        "peak_rss_mb": peak_rss_mb(spark),
    }


def pipeline_layer_metrics(spans: list[dict]) -> dict:
    from tracing import summarise

    sm = summarise(spans)
    out = {}
    for stage in STAGES + ("report",):
        s = sm.get(f"pipeline.{stage}", {})
        out[f"pipeline.{stage}.busy_s"] = float(s.get("busy_s", 0.0))
        if stage != "report":
            out[f"pipeline.{stage}.rows"] = float(s.get("rows", 0))
    return out
