"""E2E session parity: Spark crawler vs the reference-semantics simulator.

Ports of /root/reference/spec/polipus_spec.rb scenarios (FIXTURES.md §4)
over the deterministic synthetic corpus; parity = exact equality of crawl
order, URL-seen set, stored-page set, and per-wave metrics
(BASELINE.json:6,14).
"""

import pytest
from pyspark.sql import functions as F

from polipus_spark.config import CrawlOptions
from polipus_spark.plans.crawler import PolipusCrawler
from polipus_spark.simulator import CrawlSimulator
from polipus_spark.sources.corpus import corpus_df, gen_corpus

SEEDS = ["http://host0.example.com", "http://host1.example.com/"]


def run_both(spark, work_dir, docs, opts, seeds):
    sim = CrawlSimulator(docs, opts)
    sim.takeover(seeds)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)
    crawler.takeover(seeds)
    return sim, crawler


def assert_parity(sim, crawler):
    assert crawler.crawl_order() == sim.crawl_order
    if crawler.opts.tracker_mode == "exact":  # a Bloom filter has no key set
        assert crawler.seen_set() == sim.seen
    spark_pages = {
        r["uuid"]: (r["url"], r["depth"], r["code"], r["error"], list(r["aliases"]))
        for r in crawler.pages_df().collect()
    }
    sim_pages = {
        p.uuid: (p.url, p.depth, p.code, p.error, p.aliases)
        for p in sim.pages.values()
    }
    assert spark_pages == sim_pages
    sim_m = [
        (m["wave"], m["scheduled"], m["fetched"], m["errors"], m["enqueued"],
         m["dedup_hits"], m["policy_dropped"])
        for m in sim.metrics if m["scheduled"] > 0
    ]
    spark_m = [
        (r["wave"], r["scheduled"], r["fetched"], r["errors"], r["enqueued"],
         r["dedup_hits"], r["policy_dropped"])
        for r in crawler.metrics.read().orderBy("wave").collect()
    ]
    assert spark_m == sim_m


def test_depth1_session(spark, work_dir):
    """spec/polipus_spec.rb:33-37: crawl completeness at depth_limit 1."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=1, max_waves=10)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    assert sim.stats()["pages"] > 2  # seeds + their links
    assert crawler.stats() == sim.stats()
    assert_parity(sim, crawler)


def _redirect(doc_id: str, to: str, code: int = 301) -> dict:
    host = doc_id.split("/")[2]
    return {"doc_id": doc_id, "spans": [], "host": host, "code": code,
            "redirect_to": to}


@pytest.mark.parametrize("redirect_limit", [0, 1, 5])
def test_full_crawl_with_redirects(spark, work_dir, redirect_limit):
    """Unbounded depth, redirect chains, cross-host redirect, 404s; plus a
    two-doc cycle, a chain ending at a missing doc and a same-host chain
    with a cross-host hop in the middle, under each redirect limit."""
    h0, h1 = "http://host0.example.com", "http://host1.example.com"
    docs = gen_corpus(n_hosts=4, max_docs_per_host=8, with_redirect_chain=True) + [
        _redirect(f"{h0}/cycle/a", f"{h0}/cycle/b"),
        _redirect(f"{h0}/cycle/b", f"{h0}/cycle/a", code=302),
        _redirect(f"{h0}/dead/0", f"{h0}/dead/1"),
        _redirect(f"{h0}/dead/1", f"{h0}/dead/gone"),
        _redirect(f"{h0}/mixed/0", f"{h0}/mixed/1"),
        _redirect(f"{h0}/mixed/1", f"{h1}/mixed/2"),
        _redirect(f"{h1}/mixed/2", f"{h1}/mixed/3", code=307),
        _redirect(f"{h1}/mixed/3", f"{h1}/"),
    ]
    seeds = SEEDS + [f"{h0}/moved", f"{h0}/chain/0", f"{h0}/cycle/a",
                     f"{h0}/dead/0", f"{h0}/mixed/0", f"{h1}/mixed/2"]
    opts = CrawlOptions(max_waves=20, redirect_limit=redirect_limit)
    sim, crawler = run_both(spark, work_dir, docs, opts, seeds)
    assert_parity(sim, crawler)
    if redirect_limit == 5:  # a cycle keeps going round until the limit
        page = next(p for p in sim.pages.values()
                    if p.requested_url == f"{h0}/cycle/a")
        assert page.url == f"{h0}/cycle/b"
        assert page.aliases == [f"{h0}/cycle/{c}" for c in "ababa"]


def test_skip_links_like(spark, work_dir):
    """spec/polipus_spec.rb:39-46: blacklist shrinks the stored set."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=2, skip_links_like=[r"/login"], max_waves=10)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    assert not any("/login" in u for u in sim.crawl_order)
    assert_parity(sim, crawler)


def test_follow_links_like(spark, work_dir):
    """spec/polipus_spec.rb:48-53: whitelist keeps only matching paths."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=2, follow_links_like=[r"^/page/\d+$", r"^/$"],
                        max_waves=10)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    assert_parity(sim, crawler)


def test_error_page(spark, work_dir):
    """spec/polipus_spec.rb:79-86: nonexistent doc → error page, hook fires."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=4, with_redirect_chain=False)
    seeds = ["http://nowhere.example.com/"]
    opts = CrawlOptions(max_waves=3)
    sim = CrawlSimulator(docs, opts)
    sim.takeover(seeds)
    from polipus_spark.sources.corpus import corpus_df as cdf

    crawler = PolipusCrawler(spark, cdf(spark, docs), opts, work_dir)
    seen_errors = []
    crawler.on_page_error.append(
        lambda df: seen_errors.extend(r["url"] for r in df.collect())
    )
    crawler.takeover(seeds)
    assert sim.stats()["errors"] == 1
    assert crawler.stats() == sim.stats()
    assert seen_errors == ["http://nowhere.example.com/"]
    page = crawler.pages_df().collect()[0]
    assert page["error"] is not None and not page["fetched"]


def test_seeds_redownloaded_every_session(spark, work_dir):
    """spec/polipus_spec.rb:67-77: seeds bypass page_exists in session 2."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=4, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=0, max_waves=3)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)
    crawler.takeover(["http://host0.example.com/"])
    crawler.takeover(["http://host0.example.com/"])  # second session
    assert crawler.stats()["pages"] == 2  # downloaded twice
    # but stored once (upsert on uuid)
    assert crawler.pages_df().count() == 1


def test_robots_obeyed(spark, work_dir):
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False,
                      robots_frac=1.0)
    opts = CrawlOptions(depth_limit=2, obey_robots_txt=True, max_waves=10)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    assert not any("/login" in u for u in sim.crawl_order)  # robots Disallow
    assert_parity(sim, crawler)


def test_ttl_recrawl(spark, work_dir):
    """spec/polipus_spec.rb:55-65: expired pages re-fetched (tracker bypassed)."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=5, with_redirect_chain=False)
    clock = lambda w: w * 10  # noqa: E731
    opts = CrawlOptions(depth_limit=1, ttl_page=5, max_waves=10)
    sim = CrawlSimulator(docs, opts, clock_fn=clock)
    sim.takeover(["http://host0.example.com/"])
    n_first = sim.stats()["pages"]
    sim.takeover(["http://host0.example.com/"])  # session 2: everything expired
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir,
                             clock_fn=clock)
    crawler.takeover(["http://host0.example.com/"])
    crawler.takeover(["http://host0.example.com/"])
    assert sim.stats()["pages"] >= 2 * n_first  # all re-fetched
    assert crawler.stats() == sim.stats()
    assert_parity(sim, crawler)


def test_politeness_budget_parity(spark, work_dir):
    """A6: per-host budget spreads a level over multiple waves — same final
    state and order as the sequential oracle."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=2, per_host_budget=2, max_waves=30)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    assert max(m["scheduled"] for m in sim.metrics) <= 2 * 3  # ≤ budget × hosts
    assert_parity(sim, crawler)


def test_resume_after_kill(spark, work_dir):
    """north_rule: resumable from checkpoint — kill after wave 1, resume,
    final state identical to the uninterrupted run."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts_full = CrawlOptions(depth_limit=2, max_waves=20)
    sim = CrawlSimulator(docs, opts_full)
    sim.takeover(SEEDS)

    opts_killed = CrawlOptions(depth_limit=2, max_waves=2)  # "crash" after 2 waves
    c1 = PolipusCrawler(spark, corpus_df(spark, docs), opts_killed, work_dir)
    c1.takeover(SEEDS)
    # new process: fresh crawler over the same tables, resume
    c2 = PolipusCrawler(spark, corpus_df(spark, docs), opts_full, work_dir)
    c2.takeover(resume=True)
    assert_parity(sim, c2)


def test_bloom_tracker_e2e(spark, work_dir):
    """Bloom mode completes and matches exact mode's stored pages (FPR≈0
    at this scale)."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=5, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=2, tracker_mode="bloom",
                        bloom_capacity=100_000, max_waves=10, n_buckets=4)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)
    crawler.takeover(["http://host0.example.com/"])
    sim = CrawlSimulator(docs, CrawlOptions(depth_limit=2, max_waves=10))
    sim.takeover(["http://host0.example.com/"])
    assert crawler.crawl_order() == sim.crawl_order


def test_big_wave_shuffle_join_parity(spark, work_dir):
    """Size-gated fetch join: broadcast_wave_max_rows=0 forces the shuffled
    left-join fallback (the path an unlimited-budget multi-GB wave takes);
    crawl order, pages, and metrics stay exactly equal to the oracle."""
    docs = gen_corpus(n_hosts=4, max_docs_per_host=8, with_redirect_chain=True)
    seeds = SEEDS + ["http://host0.example.com/moved", "http://host0.example.com/chain/0"]
    opts = CrawlOptions(max_waves=20, broadcast_wave_max_rows=0)
    sim, crawler = run_both(spark, work_dir, docs, opts, seeds)
    assert_parity(sim, crawler)


def test_page_store_remove(spark, work_dir):
    """S5 delete (mongo_store.rb:49-60): remove(page) hides the page from
    the MoR view immediately; compaction then drops the rows physically."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=5, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=1, max_waves=5)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)
    crawler.takeover(["http://host0.example.com/"])
    pages = crawler.pages_df().collect()
    n = len(pages)
    victim = sorted(r["uuid"] for r in pages)[0]
    crawler.remove_pages([victim])
    after = crawler.pages_df()
    assert after.count() == n - 1
    assert after.where(F.col("uuid") == victim).count() == 0
    last_wave = max(r["wave"] for r in crawler.metrics.read().collect())
    crawler._compact(last_wave)
    # physically gone from the raw log, still absent from the view
    assert crawler.pages.read().where(F.col("uuid") == victim).count() == 0
    assert crawler.pages_df().count() == n - 1


def test_compaction_long_crawl_parity_and_flat_logs(spark, work_dir):
    """Log compaction: a many-wave (politeness budget 1) crawl with
    compact_every_waves=3 keeps every snapshot log bounded — the union the
    MoR window resolves stays flat instead of growing one append per wave —
    while crawl order, pages, metrics, and seen-set parity stay exact."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=8, with_redirect_chain=False)
    opts = CrawlOptions(depth_limit=2, per_host_budget=1, max_waves=40,
                        compact_every_waves=3)
    sim, crawler = run_both(spark, work_dir, docs, opts, SEEDS)
    n_waves = len([m for m in sim.metrics if m["scheduled"] > 0])
    assert n_waves > 8  # long enough that uncompacted logs would show
    assert_parity(sim, crawler)
    # each compactable log's snapshot count is bounded by the compaction
    # period, not the wave count
    for t in (crawler.pages, crawler.frontier.table, crawler.frontier.scheduled,
              crawler.tracker.table):
        assert len(t.lineage()) <= opts.compact_every_waves + 1, t.name
    # journals still carry full history
    assert len(crawler.fetch_log.lineage()) > opts.compact_every_waves


@pytest.mark.parametrize("tracker_mode", ["exact", "bloom"])
def test_resume_after_kill_with_compaction(spark, work_dir, tracker_mode):
    """Kill + resume across a compaction boundary: the compacted snapshot
    (written at a committed wave) must survive rollback and resume exactly."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6, with_redirect_chain=False)
    opts_full = CrawlOptions(depth_limit=2, max_waves=20, compact_every_waves=2,
                             tracker_mode=tracker_mode)
    sim = CrawlSimulator(docs, opts_full)
    sim.takeover(SEEDS)

    opts_killed = CrawlOptions(depth_limit=2, max_waves=2, compact_every_waves=2,
                               tracker_mode=tracker_mode)
    c1 = PolipusCrawler(spark, corpus_df(spark, docs), opts_killed, work_dir)
    c1.takeover(SEEDS)  # wave 1 commit triggers a compaction, then "crash"
    c2 = PolipusCrawler(spark, corpus_df(spark, docs), opts_full, work_dir)
    c2.takeover(resume=True)
    assert c2.tracker.table.lineage()[0]["op"] == "compact"
    assert_parity(sim, c2)


def test_error_retry_parity(spark, work_dir):
    """O6: error pages re-enqueued ≤ retry_limit times, unstored until the
    final attempt; full order/metrics parity with the oracle."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=4, with_redirect_chain=False)
    seeds = ["http://host0.example.com/", "http://ghost.example.com/"]
    opts = CrawlOptions(depth_limit=1, retry_limit=2, max_waves=10)
    sim, crawler = run_both(spark, work_dir, docs, opts, seeds)
    assert sum(m.get("retried", 0) for m in sim.metrics) == 2  # two retries
    assert sim.stats()["errors"] == 3  # original + 2 retries
    assert_parity(sim, crawler)
    retried_m = [
        (r["wave"], r["retried"], r["stored"])
        for r in crawler.metrics.read().orderBy("wave").collect()
    ]
    sim_m = [(m["wave"], m["retried"], m["stored"]) for m in sim.metrics
             if m["scheduled"] > 0]
    assert retried_m == sim_m


def test_compress_body_roundtrip(spark, work_dir, tmp_path):
    """X8 (mongo_store.rb:29): compress_body stores spans as zlib-deflated
    JSON (spans_z binary) and pages_df() inflates + re-parses on read —
    span-sequence equality (kind, text, media_ref, offset) with the
    uncompressed store, plus full sim parity through the compressed path."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=5, with_redirect_chain=False)
    opts_z = CrawlOptions(depth_limit=1, max_waves=10, compress_body=True)
    sim, cz = run_both(spark, work_dir, docs, opts_z, SEEDS)
    assert_parity(sim, cz)

    # physical layout: the stored table carries spans_z binary, not spans
    raw_cols = cz.pages.read().columns
    assert "spans_z" in raw_cols and "spans" not in raw_cols

    # byte-exact span sequences vs an uncompressed crawl of the same corpus
    opts_plain = CrawlOptions(depth_limit=1, max_waves=10)
    cp = PolipusCrawler(spark, corpus_df(spark, docs), opts_plain,
                        str(tmp_path / "plain"))
    cp.takeover(SEEDS)

    def span_map(c):
        return {
            r["uuid"]: r["sp"]
            for r in c.pages_df()
            .select("uuid", F.to_json("spans").alias("sp")).collect()
        }

    assert span_map(cz) == span_map(cp)

    # compaction + remove keep working over the compressed schema
    cz.remove_pages([next(iter(span_map(cz)))])
    assert cz.pages_df().count() == cp.pages_df().count() - 1


def test_compress_body_toggled_across_sessions(spark, work_dir):
    """A store whose snapshots mix plain-`spans` rows (compress_body=False
    session) with `spans_z` rows (compress_body=True session on the SAME
    store) must read back every row's spans: catalog.read merges the two
    schemas and _pages_state coalesces per row instead of overwriting —
    neither side's spans may be silently nulled."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=4, with_redirect_chain=False)

    # session 1: plain store, host0 only
    opts_plain = CrawlOptions(depth_limit=1, max_waves=10)
    c1 = PolipusCrawler(spark, corpus_df(spark, docs), opts_plain, work_dir)
    c1.takeover(["http://host0.example.com/"])
    n1 = c1.pages_df().count()
    assert n1 > 0

    # session 2: reopen the SAME store with compression on, crawl host1
    opts_z = CrawlOptions(depth_limit=1, max_waves=10, compress_body=True)
    c2 = PolipusCrawler(spark, corpus_df(spark, docs), opts_z, work_dir)
    c2.takeover(["http://host1.example.com/"])
    pages = c2.pages_df()
    assert pages.count() > n1  # both sessions' pages visible
    # every row — plain-written AND compressed-written — has its spans
    assert pages.where(F.col("spans").isNull()).count() == 0
    kinds = {r["k"] for r in pages.select(
        F.explode("spans").alias("s")).select(
        F.col("s.kind").alias("k")).collect()}
    assert "text" in kinds
