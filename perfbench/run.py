"""Crawl-session benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 30 --trace 0

Runs from the repository root on ``local[nproc]`` in this process (a fresh
JVM per run). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` a separate traced
run reports the per-layer metrics (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import SETUP_REPS, WORKLOADS  # noqa: E402

END_TO_END = {
    "crawl": {"pages_per_s": "pages/s", "wave_p50_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB", "state_bytes_per_page": "B/page"},
    "curate": {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"},
}


def generator_tag(spec: dict) -> str:
    """Version of a workload's inputs: its parameters and generator code."""
    h = hashlib.sha256(json.dumps(spec, sort_keys=True).encode())
    for f in ("corpus.py", "oracle.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30,
                   help="cap on the timed session (the in-flight wave finishes)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list", action="store_true", help="print the workloads")
    args = p.parse_args(argv)
    if args.list:
        print(json.dumps(WORKLOADS, indent=1))
        return 0
    if args.workload is None:
        p.error("--workload is required")
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        import polipus_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    import harness

    harness.prepare_env()
    name, spec = args.workload, WORKLOADS[args.workload]
    t_prepare = time.perf_counter()
    kind = "curate" if spec["kind"] == "curate" else "crawl"
    if kind == "crawl":
        from crawl import prepare, run_crawl as run_workload
    else:
        from curate import prepare, run_curate as run_workload
    prep = prepare(name, spec, args.seed, generator_tag(spec))

    # Set-up: session build (JVM start) plus the median per-session set-up.
    t_build = time.perf_counter()
    event_dir = harness.fresh_dir("eventlog") if args.trace else None
    spark = harness.build_spark(event_dir)
    build_s = time.perf_counter() - t_build
    tracer = None
    try:
        info = harness.host_info(spark)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        res = run_workload(spark, name, spec, prep, args.seconds, tracer,
                           setup_reps=SETUP_REPS)
        persisted = harness.persisted_rdds(spark)
    finally:
        t_stop = time.perf_counter()
        harness.stop_spark(spark)
    res.setdefault("phases_s", {}).update(
        prepare=t_build - t_prepare, build=build_s,
        stop=time.perf_counter() - t_stop)

    out = {"workload": name, "seed": args.seed, "host": info,
           **{k: v for k, v in res.items() if k != "rows"}}
    if args.trace:
        from tracing import crawl_layer_metrics, event_log_metrics, wave_accounting

        if kind == "crawl":
            layer = crawl_layer_metrics(tracer.spans, res)
            layer.update(event_log_metrics(event_dir, tracer.spans))
            layer["trace.pages_per_s"] = res["pages_per_s"]
            out["wave_accounting_gap_s"] = wave_accounting(tracer.spans)
        else:
            from curate import pipeline_layer_metrics

            layer = pipeline_layer_metrics(tracer.spans)
            layer.update(event_log_metrics(event_dir, tracer.spans, ("pipeline",)))
            layer["trace.docs_per_s"] = res["docs_per_s"]
        layer["spark.persisted_end"] = persisted
        metrics = {k: metric(v, unit_of(k)) for k, v in sorted(layer.items())}
    else:
        units = END_TO_END[kind]
        values = dict(res)
        values["setup_s"] = build_s + res["setup_med_s"]
        metrics = {k: metric(values[k], u) for k, u in units.items()}
    print(json.dumps(out))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("pages_per_s"):
        return "pages/s"
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "catalog.bytes_written":
        return "B"
    if name.endswith("_ratio") or name.endswith("task_skew") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
