"""A wave's link frame is evaluated once on its way to the frontier: the
robots gate and the Bloom probe each read their input a single time and add
no Python stage of their own, so the link-canonicalisation UDF upstream of
them runs exactly once. The Bloom insert adds no Python stage either."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polipus_spark.catalog import SnapshotCatalog
from polipus_spark.functions.robots import (
    RULES_SCHEMA,
    filter_robots_allowed,
    parse_robots_text,
)
from polipus_spark.operators.tracker import BloomTracker
from polipus_spark.sources.corpus import ROBOTS_BODY_DEFAULT

HOST = "www.example.com"
RULE_COLS = ["host", "agent_re", "rule", "path_re", "delay", "section_order"]


@F.pandas_udf(T.StringType())
def _canon(url: pd.Series) -> pd.Series:  # pragma: no cover - runs in workers
    return url.str.lower()


def test_gate_and_probe_evaluate_the_link_udf_once(spark, work_dir):
    rules = spark.createDataFrame(
        [tuple(r[c] for c in RULE_COLS) for r in parse_robots_text(HOST, ROBOTS_BODY_DEFAULT)],
        RULES_SCHEMA,
    )
    raw = spark.createDataFrame(
        [(f"http://{HOST}/{'Login' if i < 5 else 'Page'}/{i}", HOST) for i in range(50)],
        "raw string, host string",
    )
    links = raw.select(_canon("raw").alias("url"), "host")
    tracker = BloomTracker(SnapshotCatalog(spark, work_dir), capacity=10_000, n_buckets=4)
    # committed bitmaps for the probe to join: /page/10 … /page/19
    tracker.mark_seen(links.where(F.col("url").like("%/page/1_")), "url")
    out = tracker.probe(filter_robots_allowed(links, rules, "Polipus"), "url")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # '*' disallows /login: the gate sees the canonical (lower-cased) url
    assert sorted(out.groupBy("_seen").count().collect()) == [(False, 35), (True, 10)]


def test_bloom_mark_plans_no_python_stage(spark, work_dir):
    tracker = BloomTracker(SnapshotCatalog(spark, work_dir), capacity=10_000, n_buckets=4)
    keys = spark.createDataFrame([(f"http://{HOST}/p/{i}",) for i in range(20)], "url string")
    tracker.mark_seen(keys, "url")  # a committed table, as in every wave after the first
    appended = []
    tracker.table.append = lambda df, **kw: appended.append(df)
    tracker.mark_seen(keys, "url")
    plan = appended[0]._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
