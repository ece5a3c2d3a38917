"""Tests of the benchmark's own arithmetic, and a smoke run of every workload
at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q              # arithmetic
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py -q  # + smoke
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from corpus import crawl_corpus, seed_urls, text_table  # noqa: E402
from crawl import tail_percentile  # noqa: E402
from oracle import list_digest, set_digest  # noqa: E402
from tracing import self_times, summarise, union_length, wave_accounting  # noqa: E402


def span(i, name, start, end, parent=None, wave=0, **kw):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "wave": wave, **kw}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 4)]) == 3
    assert union_length([(0, 3), (1, 2), (2, 5)]) == 5
    assert union_length([(4, 6), (0, 1), (0.5, 2)]) == 4


def test_self_time_subtracts_only_direct_children():
    spans = [
        span(0, "crawler.cadence", 0, 10, None),
        span(1, "crawler.wave", 0, 8, 0),
        span(2, "frontier.push", 1, 5, 1),
        span(3, "catalog.append", 2, 4, 2),
        span(4, "catalog.append", 8.5, 9, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 8 - 0.5)
    assert st[1] == pytest.approx(8 - 4)
    assert st[2] == pytest.approx(4 - 2)
    assert st[3] == pytest.approx(2)
    assert st[4] == pytest.approx(0.5)
    # self times tile the root span exactly
    assert sum(st.values()) == pytest.approx(10)
    assert wave_accounting(spans) == pytest.approx(0)
    sm = summarise(spans)
    assert sm["catalog.append"]["calls"] == 2
    assert sm["catalog.append"]["busy_s"] == pytest.approx(2.5)


def test_self_time_clips_children_to_parent():
    spans = [span(0, "a", 0, 4), span(1, "b", 3, 6, 0)]
    assert self_times(spans)[0] == pytest.approx(3)


def test_summarise_adds_counters():
    spans = [span(0, "fetch.wave", 0, 1, rows=10, hops=2),
             span(1, "fetch.wave", 1, 3, rows=5, hops=0)]
    s = summarise(spans)["fetch.wave"]
    assert (s["calls"], s["rows"], s["hops"]) == (2, 15, 2)
    assert s["busy_s"] == pytest.approx(3)


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile([1.0] * 10) is None
    p, v = tail_percentile([float(i) for i in range(1, 21)])
    assert (p, v) == (50.0, 10.0)
    p, v = tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)


def test_digests():
    assert set_digest(["a", "b"]) == set_digest(["b", "a"])
    assert set_digest(["a"]) != set_digest(["b"])
    assert list_digest(["a", "b"]) != list_digest(["b", "a"])


def test_generators_are_seeded():
    assert crawl_corpus(3, n_hosts=5, max_docs=10) == crawl_corpus(3, n_hosts=5, max_docs=10)
    assert crawl_corpus(3, n_hosts=5, max_docs=10) != crawl_corpus(4, n_hosts=5, max_docs=10)
    robots = [d for d in crawl_corpus(3, n_hosts=8, max_docs=10)
              if d["doc_id"].endswith("/robots.txt")]
    assert len(robots) == 4
    docs, _bench, clusters = text_table(5, n_docs=200, exact_clusters=3, near_clusters=3)
    assert len(docs) == 200 and len(clusters["exact"]) == 3
    assert text_table(5, 200, 3, 3) == text_table(5, 200, 3, 3)


def test_seed_urls_put_extra_paths_after_the_root():
    docs = crawl_corpus(3, n_hosts=4, max_docs=10)
    seeds = seed_urls(docs, 4, ("/r/0", "/missing/0"))
    assert len(seeds) == 16
    host = seeds[0].split("/")[2]
    assert seeds[:4] == [f"http://{host}/", f"http://{host}/r/0",
                         f"http://{host}/missing/0", f"http://{host}/p/1"]
    ids = {d["doc_id"]: d["code"] for d in docs}
    assert ids[f"http://{host}/r/0"] == 301 and f"http://{host}/missing/0" not in ids
    assert seed_urls(docs, 2) == [u for u in seeds if u.endswith(("/", "/p/1"))]


TINY = {
    "crawl_bulk": {"corpus": {"n_hosts": 6, "max_docs": 20}},
    "crawl_polite": {"corpus": {"n_hosts": 6, "max_docs": 12, "min_docs": 6}},
    "recrawl": {"corpus": {"n_hosts": 6, "max_docs": 15}},
    "curate": {"corpus": {"n_docs": 300, "exact_clusters": 5, "near_clusters": 5}},
}


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"),
                    reason="starts Spark; set PERFBENCH_SMOKE=1")
@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    """One run per process (fresh JVM), as the benchmark is run."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import run; "
        "run.WORKLOADS[sys.argv[2]].update(__import__('json').loads(sys.argv[3])); "
        "sys.exit(run.main(sys.argv[4:]))"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-c", code, here, workload, json.dumps(TINY[workload]),
         "--workload", workload, "--seed", "7", "--seconds", "60",
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert all(set(m) == {"value", "unit"} for m in result["metrics"].values())
    if workload == "recrawl" and not result["correct"]:
        pytest.xfail("the engine's second session diverges from the "
                     "simulator under TTL expiry (see README)")
    assert result["correct"] and result["failed"] == 0
