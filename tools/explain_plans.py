"""Dump formatted physical plans for the engine's key dataflows → PLANS.md.

The point: show that each operator compiles to the plan we WANT at scale —
filters pushed to the parquet scan, the wave side of the fetch join
broadcast, window partitioning on the salt key, whole-stage codegen around
the hash kernels, no accidental cartesian or single-partition exchanges.

    python tools/explain_plans.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"


def grab_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def fetch_sections(spark, docs) -> list[tuple[str, str, str]]:
    """The fetch: a wave (small) against docs (huge), after the redirect
    lookup. The wave's final URLs are broadcast into the docs scan; a
    broadcast(wave) right_outer hint would be SILENTLY UNSUPPORTED (Spark
    cannot broadcast the preserved side of an outer join)."""
    from pyspark.sql import functions as F

    from polipus_spark.operators.fetch import (
        fetch_wave, redirect_map, resolve_redirects,
    )

    redirects = redirect_map(docs, redirect_limit=2).persist()
    redirects.count()
    wave = resolve_redirects(docs.limit(5).select(
        F.col("doc_id").alias("url"), F.lit(0).alias("depth"), F.lit(0).alias("seq"),
        F.lit(False).alias("is_seed"),
    ), redirects).persist()  # the crawler's pre-fetch frame is persisted
    wave.count()
    return [
        (
            "fetch_wave (S4/J5) — broadcast path",
            "one docs join whatever the chain length. The wave arrives "
            "persisted with its redirect lookup done (one BroadcastHashJoin "
            "LeftOuter against the redirect map, resolved once per crawler "
            "and shown inside the cached wave). The corpus Scan appears once: "
            "a BroadcastHashJoin LeftSemi against the wave's final URLs, so "
            "it is read once and never shuffled; the wave then joins those "
            "wave-sized docs rows in a ShuffledHashJoin LeftOuter. Nothing is "
            "checkpointed or cached by the fetch.",
            grab_plan(fetch_wave(wave, docs, wave_rows=5,
                                 broadcast_max_rows=250_000)),
        ),
        (
            "fetch_wave (S4/J5) — big-wave fallback",
            "waves above broadcast_wave_max_rows take the same map lookup, "
            "then a plain shuffled left join under AQE — bounded memory, no "
            "driver-sized broadcast.",
            grab_plan(fetch_wave(wave, docs, wave_rows=None)),
        ),
    ]


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from polipus_spark.session import build_session

    spark = build_session(app_name="explain", cores=4, shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    qs = entrymod.queries()
    picks = {
        "o1_frontier_pop": "salted window-rank pop: ONE exchange on the salt "
        "key, sort within partitions, rank filter — no global sort.",
        "o3_hot_window": "hot-window cap (O3) via exact_top_k threshold "
        "selection: a map-side struct-key Filter cuts the frame to ~k "
        "candidate rows BEFORE the final TakeOrderedAndProject, so the "
        "single merge task sees ~k rows — not partitions×k of the whole "
        "frontier (the r2 scale-killer at the 2M reference cap). The "
        "threshold comes from two map-only passes (count + deterministic "
        "hash sample); same path serves O4 on descending seq.",
        "j4_exact_tracker": "exact URL-seen: anti-join; AQE may turn it into "
        "a broadcast hash join when the seen side is small.",
        "dedup_minhash_lsh": "MinHash via explode+groupBy: partial (map-side) "
        "aggregation before the shuffle; band join is an equi-join on "
        "(band, bucket).",
        "sim_bruteforce_topk": "query side broadcast (BroadcastNestedLoopJoin "
        "is acceptable here: the query side is k rows); corpus streams once.",
        "tpch_q1_style": "scan shows PushedFilters on l_shipdate and a pruned "
        "ReadSchema — Catalyst pushdown at work.",
        "dedup_embedding_lsh": "banded hyperplane LSH (the near-dup DEFAULT): "
        "ONE ArrowEvalPython/mapInPandas node computes all 128 sign bits per "
        "vector as a numpy matmul (r4 — replaces the 8,200-literal-leaf "
        "Column sketch that cost Catalyst minutes of analysis), then an "
        "equi-join on the narrow (band, bucket) key — candidates ∝ "
        "collisions, never an n² cross join.",
        "decontaminate": "benchmark 8-gram hash set broadcast; corpus explode "
        "joins map-side (BroadcastHashJoin LeftSemi) — only shuffle is the "
        "per-doc hit-count groupBy on the narrow id key.",
        "sample_stratified": "deterministic mixing sample: pure Filter over "
        "the scan (md5-bps CASE), map-only, zero exchanges — identical rows "
        "kept at any parallelism.",
        "text_repetition": "Gopher repetition stats: one ProjectExec of pure "
        "Column expressions inside WholeStageCodegen — a map-only pass fused "
        "into the parquet scan.",
        "dedup_spans": "repeated-span removal: md5 doc-frequency partial agg "
        "→ left_semi keep → array_sort(collect_list) reassembly — narrow "
        "hash-key shuffles only.",
        "text_vocab_topk": "TakeOrderedAndProject (distributed per-partition "
        "top-k + driver merge) — NOT a single-partition global-sort window.",
        "text_lm_score": "unigram LM score: token-key join of the exploded "
        "corpus against the vocab-sized freq table, then one narrow per-doc "
        "sum; all integer outputs.",
        "tpch_q5_style": "six-way star join: ALL five joins BroadcastHashJoin "
        "— lineitem streams once through the broadcast chain, zero shuffle "
        "joins, dims reordered by Catalyst.",
        "sim_ivf_topk_indexed": "persisted IVF probe: the vectors scan "
        "carries a dynamicpruning subquery on centroid_id (the partition "
        "column) — only the probed list directories are read; look for "
        "'dynamicpruning' in the scan's PartitionFilters.",
        "dedup_semantic": "SemDeDup: within-cluster pair join — the "
        "assignment equi-join on centroid_id keys the pair search, so "
        "pairwise work is sum over clusters of n_k², never a global n² "
        "cross join (clusters above hot_cluster_cap switch to banded-LSH "
        "within the cluster — r4).",
        "sim_ivf_topk_quantized": "quantized IVF serving layout (r4): the "
        "scoring scan's ReadSchema carries (vec_id, q, scale) — the float "
        "embedding column is PRUNED (≈4× fewer scan bytes than float32) — "
        "and both scans keep the dynamicpruning PartitionFilters on "
        "centroid_id; the float column is read only by the exact re-rank "
        "join over the k·overfetch candidate set.",
        "sketch_distinct_hll": "deterministic HLL (r4): the whole plan is "
        "one HashAggregate pair over ≤64 bucket ids — partial max(rho) "
        "map-side, 64-row exchange, final max + exact-integer harmonic "
        "sum. Nothing proportional to input size crosses the shuffle: "
        "count-distinct at 100 TB for 64 rows of traffic.",
        "sketch_heavy_hitters": "count-min heavy hitters (r4): sketch side "
        "is one HashAggregate over ≤1024 (row, bucket) cells; the probe "
        "side joins it as a BroadcastHashJoin — the only exchange "
        "proportional to anything is the 20-row probe groupBy.",
        "sim_pq_topk": "product quantization (r4): every codebook join is "
        "a BroadcastHashJoin against the m·K codebook / Q·m·K ADC-table "
        "rows; the corpus-proportional work is the explode to (vec, "
        "subspace) rows and ONE (query, vec) partial-agg sum — the float "
        "embedding column is read only by training/encoding, never by the "
        "serving lookup.",
        "sim_ivfpq_topk": "composed IVF-PQ (r4): both vectors scans keep "
        "dynamicpruning PartitionFilters on centroid_id (the probe prunes "
        "to n_probe/K lists); the ADC scan's ReadSchema is (vec_id, codes, "
        "nrm) — the float embedding column is pruned out of the scoring "
        "path entirely and read only by the exact re-rank BroadcastHashJoin "
        "over the k·overfetch candidate set. Probe, ADC table, and "
        "candidate frames are all broadcast — the only corpus-proportional "
        "work is the pruned codes scan plus one (query, neighbor) "
        "partial-agg sum.",
        "dedup_incremental": "incremental dedup vs persisted store (r4): "
        "the signature store scan is column-pruned to (id, m0..m15) and "
        "feeds a BroadcastHashJoin STREAMED side — the 10^9-row store is "
        "never shuffled; the only exchanges are the (small) ingest batch's "
        "signature agg and the collision pairs' distinct.",
        "events_asof_join": "backward as-of join (r4): NO join operator in "
        "the plan at all — union of both sides, one exchange on user_id, "
        "one sort on (ts, side), a running ignorenulls last() window. "
        "Compare a range join's candidate blowup; this is |L|+|R| rows "
        "through one shuffle.",
        "events_range_join": "bucketed range join (r4): the no-equi-key "
        "interval containment that naively plans BroadcastNestedLoop — "
        "here the exploded bucket key turns it into a hash equi-join plus "
        "an exact containment Filter; shuffle ∝ |points|+|intervals|.",
        "events_rollup_agg": "hypertable continuous aggregate (r4): the "
        "rollup scan carries a static bucket PartitionFilter (only the "
        "queried hours' directories are read); the raw side is only the "
        "post-watermark tail; both re-aggregate through one small "
        "exchange on event_type.",
        "graph_triangles": "degree-oriented triangle counting (r4): both "
        "the wedge self-join and the closing join are hash EQUI-joins "
        "(no theta/cartesian anywhere); orientation by (degree, id) "
        "bounds every wedge source's fan-out by O(sqrt(m)), so the plan "
        "survives power-law hubs — the hub's wedges route through its "
        "low-degree neighbours.",
        "graph_clustering": "clustering coefficients (r4): the degree agg "
        "+ left join layered over the triangle plan — the coefficient is "
        "a single integer-division Project, so the whole addition beyond "
        "triangle counting is one narrow node-key join.",
        "events_gapfill": "gap-fill + LOCF (r4): the grid generator is a "
        "1-row broadcast bounds crossJoin + sequence explode over the "
        "distinct keys — generated distributed, never collected; then ONE "
        "left BroadcastHashJoin/SortMergeJoin on (key, bucket) and ONE "
        "keyed window for the ignorenulls running last(). Grid size is "
        "the user's plotting contract (|K|·range/step), independent of "
        "raw event count.",
        "crawl_pagerank": "PageRank over the crawl's own link graph (r5): "
        "link extraction is a posexplode+groupBy on the stored spans; "
        "each rank round is a pair of hash equi-joins plus a narrow "
        "node-key agg with localCheckpoint between rounds (the plan stays "
        "shallow across iterations — no lineage blowup).",
        "crawl_hostgraph": "host-level web graph (r5): X2 extraction is "
        "Catalyst regexp + one Arrow canonicalize hop; the rollup is a "
        "single partial-agg groupBy — at corpus scale this is a scan plus "
        "ONE shuffle keyed by the (src_host, dst_host) pair.",
        "crawl_prioritize": "importance-driven recrawl scheduler (r5): "
        "pagerank's checkpointed join+agg rounds, then the |nodes|-row "
        "rank table joins pages on uuid and ONE window over host "
        "partitions ranks refresh slots — the same salted-window "
        "machinery as O1 absorbs hot hosts.",
        "crawl_changed_pages": "snapshot changelog / CDF (r5): two MoR "
        "window reads + ONE left equi-join on uuid, classification by "
        "snapshot version — page BODIES never cross the diff, so the "
        "feed costs two pruned scans and a co-partitioned join at any "
        "store size; unchanged keys emit nothing.",
        "text_bpe_segment": "tokenizer application (r5): the trained "
        "merge table folds into literal Column replaces (no UDF) — "
        "map-side segmentation; the only exchange is the vocab-sized "
        "word distinct.",
        "dedup_keep_best": "quality-aware survivor selection (r5): "
        "component labels from the checkpointed join+agg rounds, then "
        "ONE window partitioned by component (near-dup components are "
        "tiny dense cliques — no partition skew) ordered by a pure-"
        "Column quality feature.",
        "text_gopher_rules": "Gopher quality rules (r5): every flag is a "
        "pure Column inequality — ONE ProjectExec fused into the parquet "
        "scan inside WholeStageCodegen, zero exchanges.",
        "dedup_substring": "EXACTSUBSTR window dedup (r5): exploded gram "
        "hashes partial-aggregate map-side before the doc-frequency "
        "shuffle; the dup-hash join back is a plain equi-join on the "
        "60-bit key — both exchanges linear in corpus tokens.",
        "sample_dsir": "DSIR importance weights (r5): the ratio table is "
        "<= dim rows (broadcast hash join onto per-doc bucket counts); "
        "the only data-sized exchange is the (id, bucket) combine.",
        "dedup_hashembed_near": "embedding-free semantic near-dup (r5): "
        "map-only hash_embed folds + sign fingerprint, banded equi-join "
        "candidates, integer cosine verify — no model pass, no n².",
        "events_funnel": "windowFunnel (r5): ONE groupBy(user) exchange, "
        "then the whole greedy chain is an aggregate fold inside the "
        "projection — no per-step self-joins anywhere in the plan.",
        "events_topk_per_group": "grouped top-k (r5): WindowGroupLimit "
        "below the exchange — each map task ships ~k rows per group.",
        "events_zorder": "Z-order key (r5): one ProjectExec of shift/mask "
        "terms fused into the scan, map-only.",
        "sketch_distinct_by_type": "grouped HLL + merge (r5): registers "
        "aggregate map-side; the __all__ merge is a 64-row re-agg — "
        "input size never reaches an exchange.",
        "dedup_containment": "containment near-dup (r5): the shingle "
        "self-join is df-bounded (hot shingles filtered BEFORE pairing), "
        "so pair fan-out is ≤ max_df per shingle — equi-joins only.",
        "tpch_q4_style": "EXISTS as LeftSemi hash join with the non-equi "
        "residual (l_shipdate > o_orderdate) on top of the orderkey "
        "equi-key; the quarter window is in the orders scan's "
        "PushedFilters.",
        "tpch_q17_style": "decorrelated scalar subquery: the per-part "
        "partial agg re-joins the fact; broadcast part prunes BEFORE the "
        "agg join; the avg predicate is integer cross-multiplication "
        "(2·q·cnt < qsum) — no float boundary.",
        "tpch_q18_style": "HAVING-first: the fact-side agg + filter runs "
        "below the orders join, so the join probe side is the ~1% "
        "survivor set.",
        "events_rolling": "rolling analytics: ONE exchange on user_id, "
        "then both ROWS and RANGE frames compute in a single "
        "WindowExec sort pass — no self-join, no explode.",
        "events_outliers": "3σ outliers: partial agg → 5-row broadcast "
        "back → map-side DECIMAL(38) predicate; one scan + one tiny "
        "broadcast at any scale.",
        "sim_knn_graph": "kNN graph (r5): broadcast argmax assignment "
        "(no corpus shuffle) → ONE groupBy(centroid) exchange → per-list "
        "Arrow matmul in FlatMapGroupsInPandas; Σ|list|² is the only "
        "quadratic term and n_centroids caps it.",
        "io_bucketed_join": "co-bucketed join (r5): both scans say "
        "'Bucketed: true' and feed the SortMergeJoin with NO Exchange "
        "on the join key — the only exchange in the plan is the "
        "groupBy's own; compare tpch_q3_style where both sides shuffle.",
        "text_tfidf_topk": "TF-IDF keywords: token-keyed tf groupBy is "
        "the only wide exchange; df joins at vocab size; N arrives as a "
        "broadcast 1-row cross join so log2 runs in-engine.",
        "sample_balanced": "balanced downsample: within-class md5-rank "
        "window (one stratum-key exchange) + broadcast 1-row floor "
        "count — no driver collect anywhere.",
        "sample_epoch_take": "epoch execution (r5): Hamilton apportionment "
        "computed over the |strata|-row count aggregate (tiny windows), "
        "broadcast back onto the per-stratum md5-rank window — the 100 TB "
        "input pays one count scan and one stratum-key exchange.",
        "sim_negative_mining": "contrastive negative mining (r5): corpus x "
        "broadcast(8 queries), broadcast left-anti exclusion of the top-k "
        "positives, md5-rank window per query — no corpus-sized shuffle "
        "on the score path.",
        "j1_bloom_probe": "J1 Bloom probe: JVM-side md5 hash seeds; the "
        "chunk rows are OR'ed per (bucket, chunk) with bitmap_or_agg and "
        "collected into one chunk map per bucket (n_buckets rows, "
        "broadcast by the planner); each key's k bits are tested as "
        "Column expressions (decimal position math, element_at on the "
        "chunk, substr + getbit) — the keys are read once, never "
        "shuffled, and no Python stage runs. The insert (mark_seen) "
        "groups the same positions by (bucket, chunk) with "
        "bitmap_construct_agg.",
    }
    # picks whose demonstrated property only shows with broadcast joins
    # off (at sf0.01 AQE would broadcast the small side and mask it)
    no_broadcast = {"io_bucketed_join"}
    for name, note in picks.items():
        if name in no_broadcast:
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                sections.append((name, note, grab_plan(qs[name](spark, SF))))
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        else:
            sections.append((name, note, grab_plan(qs[name](spark, SF))))

    from polipus_spark.sources.corpus import corpus_df, gen_corpus

    docs = corpus_df(spark, gen_corpus(n_hosts=3, max_docs_per_host=5))
    sections += fetch_sections(spark, docs)

    # robots gate: one broadcast left_anti join, regexp_like per rule row
    from polipus_spark.functions.robots import (
        filter_robots_allowed, robots_rules_df,
    )
    from polipus_spark.functions.urls import url_host

    rules = robots_rules_df(docs)
    cands = docs.select(F.col("doc_id").alias("url")).withColumn(
        "host", url_host(F.col("url"))
    )
    sections.append((
        "robots gate (F2)",
        "one BroadcastHashJoin LeftAnti of the candidates against this UA's "
        "disallow rules on host, with regexp_like(path, path_re) as the "
        "join condition — the candidates are read once and never shuffled, "
        "and the rule and UA regexes run in the JVM.",
        grab_plan(filter_robots_allowed(cands, rules, "Polipus")),
    ))

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("# PLANS — physical plans of the key dataflows\n\n")
        f.write("Generated by tools/explain_plans.py (sf0.01, local[4]).\n")
        for name, note, plan in sections:
            f.write(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md with", len(sections), "plans")
    spark.stop()


if __name__ == "__main__":
    main()
