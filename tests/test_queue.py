"""O1-O4/J8/A6 — queue_overflow_spec.rb + manager_spec.rb ports.

The reference queue/overflow pair is subsumed by the frontier table + rank
windows (SURVEY S7/O3/O4); these tests pin the observable semantics the
specs fix: FIFO order, drop-oldest caps, uniqueness, politeness budgets.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polipus_spark.catalog import SnapshotCatalog
from polipus_spark.config import CrawlOptions
from polipus_spark.operators.frontier import Frontier
from polipus_spark.plans.crawler import PolipusCrawler
from polipus_spark.sources.corpus import corpus_df, gen_corpus

PUSH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("referer", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("is_seed", T.BooleanType()),
    T.StructField("user_data", T.MapType(T.StringType(), T.StringType())),
    T.StructField("parent_seq", T.LongType()),
    T.StructField("link_pos", T.IntegerType()),
])


def _mk(spark, work_dir, **opt_kw):
    opts = CrawlOptions(**opt_kw)
    return Frontier(SnapshotCatalog(spark, work_dir), opts), opts


def _urls_df(spark, urls, parent_seq=-1):
    rows = [(u, None, 0, 0, False, {}, parent_seq, i) for i, u in enumerate(urls)]
    return spark.createDataFrame(rows, PUSH_SCHEMA)


def _msg(i):
    return f"http://q.example.com/message_{i}"


def test_fifo_pop_order(spark, work_dir):
    """queue_overflow_spec.rb:38-44: first pushed pops first."""
    fr, _ = _mk(spark, work_dir)
    fr.push(_urls_df(spark, [_msg(i) for i in range(10)]), wave=0, next_seq=0)
    popped = fr.pop(wave=0)
    rows = popped.orderBy("priority", "depth", "discovery_ts", "seq").collect()
    assert rows[0]["url"] == _msg(0)
    assert [r["url"] for r in rows] == [_msg(i) for i in range(10)]


def test_pop_marks_scheduled(spark, work_dir):
    fr, _ = _mk(spark, work_dir)
    fr.push(_urls_df(spark, [_msg(i) for i in range(5)]), wave=0, next_seq=0)
    fr.pop(wave=0)
    assert fr.pending_count() == 0  # all consumed


def test_capped_drop_oldest(spark, work_dir):
    """queue_overflow_spec.rb:55-59: 30 pushed, max 20 ⇒ head message_10."""
    fr, _ = _mk(spark, work_dir, queue_overflow_capped_max=20)
    fr.push(_urls_df(spark, [_msg(i) for i in range(30)]), wave=0, next_seq=0)
    pend = fr.pending()
    assert pend.count() == 20
    head = pend.orderBy("seq").limit(1).collect()[0]["url"]
    assert head == _msg(10)


def test_unique_push(spark, work_dir):
    """queue_overflow_spec.rb:61-65 (ensure_uniq): 20×A + 20×B ⇒ size 2.

    In-batch tracker-key dedup (J8) keeps the first discovery of each URL.
    """
    fr, _ = _mk(spark, work_dir)
    urls = ["http://q.example.com/A"] * 20 + ["http://q.example.com/B"] * 20
    n, next_seq, _ = fr.push(_urls_df(spark, urls), wave=0, next_seq=0)
    assert n == 2 and next_seq == 2


def test_hot_window_cap_spill_and_restore(spark, work_dir):
    """manager_spec.rb:35-59 analog: limit 10, 20 queued ⇒ wave sees 10;
    'restored' rows surface next wave."""
    fr, _ = _mk(spark, work_dir, queue_items_limit=10)
    fr.push(_urls_df(spark, [_msg(i) for i in range(20)]), wave=0, next_seq=0)
    w0 = fr.pop(wave=0)
    got0 = sorted(r["url"] for r in w0.collect())
    assert got0 == sorted(_msg(i) for i in range(10))  # FIFO head
    assert fr.pending_count() == 10  # spilled remainder still pending
    w1 = fr.pop(wave=1)
    got1 = sorted(r["url"] for r in w1.collect())
    assert got1 == sorted(_msg(i) for i in range(10, 20))  # restored
    assert fr.pending_count() == 0


def test_politeness_budget_per_host(spark, work_dir):
    """A6: per-host budget caps a wave's pops; FIFO order within host."""
    fr, _ = _mk(spark, work_dir)
    urls = [f"http://h{i % 2}.example.com/p/{i}" for i in range(10)]
    fr.push(_urls_df(spark, urls), wave=0, next_seq=0)
    budgets = spark.createDataFrame(
        [("h0.example.com", 2), ("h1.example.com", 1)], "host string, budget long"
    )
    popped = fr.pop(wave=0, budgets=budgets)
    got = sorted(r["url"] for r in popped.collect())
    # h0 gets p/0, p/2 (first two in FIFO); h1 gets p/1
    assert got == sorted(["http://h0.example.com/p/0", "http://h0.example.com/p/2",
                          "http://h1.example.com/p/1"])
    assert fr.pending_count() == 7


def test_default_budget(spark, work_dir):
    fr, _ = _mk(spark, work_dir)
    urls = [f"http://h{i % 2}.example.com/p/{i}" for i in range(10)]
    fr.push(_urls_df(spark, urls), wave=0, next_seq=0)
    popped = fr.pop(wave=0, default_budget=3)
    assert popped.count() == 6  # 3 per host × 2 hosts


def test_priority_order(spark, work_dir):
    """O1: priority beats FIFO (salted window-rank order key)."""
    fr, _ = _mk(spark, work_dir)
    rows = [
        (f"http://h.example.com/p/{i}", None, 0, (0 if i >= 5 else 5), False, {}, -1, i)
        for i in range(10)
    ]
    fr.push(spark.createDataFrame(rows, PUSH_SCHEMA), wave=0, next_seq=0)
    popped = fr.pop(wave=0, default_budget=5)
    got = sorted(r["url"] for r in popped.collect())
    assert got == sorted(f"http://h.example.com/p/{i}" for i in range(5, 10))


def test_push_lineage_per_bucket(spark, work_dir):
    """r3: the frontier push snapshot records the per-bucket enqueue
    breakdown (north_rule: per-PARTITION snapshot lineage), and the
    breakdown sums to the committed total."""
    fr, _ = _mk(spark, work_dir, n_buckets=4)
    n, _, out = fr.push(
        _urls_df(spark, [f"http://h{i}.example.com/p" for i in range(12)]),
        wave=0, next_seq=0,
    )
    assert n == 12
    m = fr.table.lineage()[-1]["metrics"]
    assert m["enqueued"] == 12
    per_bucket = m["enqueued_per_bucket"]
    assert sum(per_bucket.values()) == 12
    assert all(0 <= int(b) < 4 for b in per_bucket)
    out.unpersist()


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_seed_and_push_leave_nothing_persisted(spark, work_dir):
    """The seq assignment's sorted frame reaches the caller through
    ``persisted``: ``seed()`` releases it with the appended frame, a push
    whose returned frames the caller releases leaves no dataset cached, and
    an empty push releases both itself. Compared by RDD id, so frames freed
    meanwhile by the context cleaner cannot hide a new one."""
    docs = gen_corpus(n_hosts=2, max_docs_per_host=5)
    opts = CrawlOptions(depth_limit=2, obey_robots_txt=True)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)

    before = _persisted_ids(spark)
    n = crawler.seed(["http://host0.example.com/", "http://host1.example.com/"],
                     wave=0, next_seq=0)
    assert n == 2
    assert _persisted_ids(spark) - before == set()

    before = _persisted_ids(spark)
    held: list = []
    n, _, out = crawler.frontier.push(
        _urls_df(spark, [_msg(i) for i in range(8)], parent_seq=0),
        wave=1, next_seq=n, persisted=held,
    )
    assert n == 8 and len(held) == 1
    for df in [out, *held]:
        df.unpersist()
    assert _persisted_ids(spark) - before == set()

    before = _persisted_ids(spark)
    held = []
    n, _, out = crawler.frontier.push(_urls_df(spark, []), wave=1, next_seq=10,
                                      persisted=held)
    assert (n, out, held) == (0, None, [])
    assert _persisted_ids(spark) - before == set()


@pytest.mark.parametrize("tracker_mode", ["exact", "bloom"])
def test_waves_keep_persisted_rdds_flat(spark, work_dir, tracker_mode):
    """Long sessions run in flat memory: waves 2 and 3 leave no persisted
    RDD that wave 1 did not already hold (the session's redirect map, robots
    rules and budgets). Compared by RDD id, as above."""
    docs = gen_corpus(n_hosts=3, max_docs_per_host=6)
    opts = CrawlOptions(depth_limit=3, obey_robots_txt=True, max_waves=1,
                        tracker_mode=tracker_mode)
    crawler = PolipusCrawler(spark, corpus_df(spark, docs), opts, work_dir)
    crawler.takeover(["http://host0.example.com/", "http://host0.example.com/chain/0",
                      "http://host1.example.com/"])
    after_one = _persisted_ids(spark)
    crawler.takeover(resume=True)
    crawler.takeover(resume=True)
    scheduled = [r["scheduled"] for r in crawler.metrics.read().orderBy("wave").collect()]
    assert len(scheduled) == 3 and min(scheduled) > 0
    assert _persisted_ids(spark) - after_one == set()
