"""Training-data pipeline operators: text analysis, dedup, similarity —
correctness on crafted inputs + determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id bigint, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


# ---------------------------------------------------------------- text


def test_lang_id_markers(spark):
    from polipus_spark.functions.text import lang_id

    rows = [
        (1, "the cat and the dog of the house is that with"),
        (2, "der hund und die katze ist nicht ein mit das"),
        (3, "le chat est dans la maison pour les des une"),
        (4, "xyzzy qwerty asdf"),
    ]
    got = {
        r["doc_id"]: r["l"]
        for r in _docs(spark, rows).select("doc_id", lang_id(F.col("text")).alias("l")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_count(spark):
    from polipus_spark.functions.text import token_count, whitespace_token_count

    rows = [(1, "Hello, world! abc123 x")]
    r = _docs(spark, rows).select(
        token_count(F.col("text")).alias("t"),
        whitespace_token_count(F.col("text")).alias("w"),
    ).collect()[0]
    # Hello , world ! abc 123 x → 7 BPE-ish; 4 whitespace tokens
    assert r["t"] == 7 and r["w"] == 4


def test_quality_class(spark):
    from polipus_spark.functions.text import quality_class

    long_good = (1, "the quick brown fox jumps over the lazy dog and then "
                    "runs far away with great speed to find more of the food")
    too_short = (2, "the cat")
    too_puncty = (3, "!!! ??? *** ((( ))) @@@ " * 10)
    got = {
        r["doc_id"]: r["q"]
        for r in _docs(spark, [long_good, too_short, too_puncty])
        .select("doc_id", quality_class(F.col("text")).alias("q")).collect()
    }
    assert got[1] == "keep" and got[2] == "drop" and got[3] == "drop"


def test_fingerprint_stability(spark):
    from polipus_spark.functions.text import fingerprint

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(1, base), (2, base), (3, "completely different content here ok")]
    got = {
        r["doc_id"]: r["fp"]
        for r in _docs(spark, rows).select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert got[1] == got[2] != got[3]


def test_chunking_windows_and_overlap(spark):
    from polipus_spark.functions.text import chunk_docs

    words70 = " ".join(f"w{i}" for i in range(70))
    d = _docs(spark, [(1, words70), (2, "tiny doc"), (3, "")])
    out = chunk_docs(d, chunk=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 70 words, step 56 → chunks at 0 (64 words) and 56 (14 words)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_words"] for r in c1] == [64, 14]
    assert c1[0]["chunk_text"].startswith("w0 ") and c1[1]["chunk_text"].startswith("w56 ")
    # overlap: last 8 words of chunk 0 == first 8 words of chunk 1
    assert c1[0]["chunk_text"].split()[-8:] == c1[1]["chunk_text"].split()[:8]
    assert [r["n_words"] for r in by_doc[2]] == [2]
    assert [r["n_words"] for r in by_doc[3]] == [0]


def test_repetition_class(spark):
    from polipus_spark.functions.text import repetition_class, repetition_stats

    loopy = (1, "buy now " * 30)                       # all dup bigrams
    clean = (2, "one two three four five six seven eight nine ten")
    d = _docs(spark, [loopy, clean])
    got = {r["doc_id"]: r["c"] for r in d.select(
        "doc_id", repetition_class(F.col("text")).alias("c")).collect()}
    assert got == {1: "drop", 2: "keep"}
    s = repetition_stats(F.col("text"))
    r = d.where(F.col("doc_id") == 2).select(
        s["n_grams"].alias("g"), s["n_distinct"].alias("d")).collect()[0]
    assert r["g"] == r["d"] == 9  # 10 words → 9 distinct bigrams


def test_pii_scrub(spark):
    from polipus_spark.functions.text import pii_counts, scrub_pii

    d = _docs(spark, [
        (1, "reach me at jane.doe+spam@mail.example.org or +44-020-7946-0958 ok"),
        (2, "no pii here at all"),
    ])
    c = pii_counts(F.col("text"))
    out = {r["doc_id"]: r for r in d.select(
        "doc_id", c["n_emails"].alias("e"), c["n_phones"].alias("p"),
        scrub_pii(F.col("text")).alias("s")).collect()}
    assert out[1]["e"] == 1 and out[1]["p"] == 1
    assert "<EMAIL>" in out[1]["s"] and "<PHONE>" in out[1]["s"]
    assert "jane" not in out[1]["s"] and "7946" not in out[1]["s"]
    assert out[2]["s"] == "no pii here at all"


def test_stratified_sample_deterministic_and_nested(spark):
    """Same rows on re-run; the 10% sample is a subset of the 50% one;
    rates land near target on 2k rows."""
    from polipus_spark.functions.sampling import bernoulli_sample

    d = spark.range(2000).select(F.col("id").alias("doc_id"))
    s50a = {r["doc_id"] for r in bernoulli_sample(d, 5000).collect()}
    s50b = {r["doc_id"] for r in bernoulli_sample(d, 5000).collect()}
    s10 = {r["doc_id"] for r in bernoulli_sample(d, 1000).collect()}
    assert s50a == s50b
    assert s10 <= s50a
    assert 0.45 < len(s50a) / 2000 < 0.55
    assert 0.07 < len(s10) / 2000 < 0.13


def test_stratified_rates_per_stratum(spark):
    from polipus_spark.functions.sampling import stratified_sample

    d = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_sample(d, F.col("lang"), {"en": 1000, "de": 8000})
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 120 < counts["en"] < 280       # ~10% of 2000
    assert 1400 < counts["de"] < 1800     # ~80% of 2000


def test_vocab_topk_and_lm_score(spark):
    from polipus_spark.functions.text import lm_quality_score, vocab_topk

    d = _docs(spark, [
        (1, "the the the cat"),      # 'the' ×3, typical
        (2, "zq xv qj"),             # gibberish: all freq-1 tokens
        (3, "the cat"),
    ])
    top = [(r["token"], r["n"], r["rank"]) for r in
           vocab_topk(d, k=2).orderBy("rank").collect()]
    assert top == [("the", 4, 1), ("cat", 2, 2)]

    scores = {r["doc_id"]: r["sum_lf"] / max(r["n_tokens"], 1)
              for r in lm_quality_score(d).collect()}
    # corpus-typical docs outscore gibberish (freq-1 tokens have lf=0)
    assert scores[2] == 0
    assert scores[1] > scores[3] > scores[2]


# ---------------------------------------------------------------- dedup


def test_exact_dedup(spark):
    from polipus_spark.functions.dedup import dedup_exact, exact_dup_groups

    rows = [(1, "same text"), (2, "same text"), (3, "other")]
    d = _docs(spark, rows)
    groups = exact_dup_groups(d)
    dup = groups.where(F.col("n_dups") > 1).collect()[0]
    assert dup["n_dups"] == 2 and dup["keeper_id"] == 1
    assert dedup_exact(d).count() == 2


def test_minhash_lsh_finds_near_dups(spark):
    from polipus_spark.functions.dedup import lsh_candidate_pairs, ngram_jaccard

    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "shines bright over the green hills and the wide river")
    near = base.replace("green", "blue")
    far = "completely unrelated words about spark dataframes and shuffles here"
    d = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = lsh_candidate_pairs(d)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got
    j = ngram_jaccard(d, pairs).where((F.col("id_a") == 1) & (F.col("id_b") == 2)).collect()[0]
    assert 0.5 < j["inter"] / j["union_n"] < 1.0


def test_minhash_agg_matches_array_variant(spark):
    from polipus_spark.functions.dedup import minhash_signature, minhash_signature_agg

    d = _docs(spark, [(1, "a b c d e f g h"), (2, "x y z w v u t s r")])
    arr = {
        r["doc_id"]: list(r["sig"])
        for r in d.select("doc_id", minhash_signature(F.col("text"), 8).alias("sig")).collect()
    }
    agg = {
        r["id"]: [r[f"m{i}"] for i in range(8)]
        for r in minhash_signature_agg(d, n_perm=8).collect()
    }
    assert arr == agg


def test_simhash_near_vs_far(spark):
    from polipus_spark.functions.dedup import simhash16

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    d = _docs(spark, [(1, base), (2, base + " extra"), (3, "zz qq ww ee rr tt")])
    got = {r["doc_id"]: r["s"] for r in d.select("doc_id", simhash16(F.col("text")).alias("s")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(got[1], got[2]) <= 4
    assert ham(got[1], got[3]) >= 4


def test_simhash_near_pairs(spark):
    """Near-copies land within the Hamming ball and are found via the
    banded join; unrelated docs are not. simhash60_agg matches a direct
    per-row recomputation of the same ±1 sign rule."""
    from polipus_spark.functions.dedup import simhash60_agg, simhash_near_pairs

    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "shines bright over the green hills and the wide river flows "
            "past the old mill near the quiet village every single day")
    near = base.replace("green", "blue")
    far = ("entirely different subject matter discussing distributed query "
           "engines shuffle partitioning broadcast joins and adaptive "
           "execution plans running on large compute clusters at scale")
    d = _docs(spark, [(1, base), (2, near), (3, far)])
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_pairs(d, k=3).collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert (1, 3) not in got and (2, 3) not in got

    # Arrow kernel (default) and pure-Column formulation must agree exactly
    col_rows = {r["id"]: r["sh"] for r in simhash60_agg(d, arrow=False).collect()}
    arrow_rows = {r["id"]: r["sh"] for r in simhash60_agg(d, arrow=True).collect()}
    assert col_rows == arrow_rows

    # cross-check the agg formulation against per-row python
    import hashlib
    rows = arrow_rows
    for doc_id, text in [(1, base), (3, far)]:
        ws = [w for w in text.lower().split() if w]
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in ws]
        expect = sum(
            (1 << b) for b in range(60)
            if sum(1 if h & (1 << b) else -1 for h in hs) > 0
        )
        assert rows[doc_id] == expect


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3 plus island 7-8 plus singleton doc 9: components resolve
    to min ids, singleton maps to itself, keeper-only dedup keeps 3 docs."""
    from polipus_spark.functions.dedup import (
        connected_components, dedup_near, near_dup_groups,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    )
    cc = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    docs = _docs(spark, [(i, f"text {i}") for i in (1, 2, 3, 7, 8, 9)])
    groups = {r["doc_id"]: r["component"]
              for r in near_dup_groups(docs, pairs).collect()}
    assert groups == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}
    kept = sorted(r["doc_id"] for r in dedup_near(docs, pairs).collect())
    assert kept == [1, 7, 9]


def test_dedup_spans_removes_repeated_windows(spark):
    """A 10-word span shared by two docs disappears from both; unique spans
    survive; fully-boilerplate docs come back empty (not missing)."""
    from polipus_spark.functions.dedup import dedup_spans

    shared = " ".join(f"s{i}" for i in range(10))
    a_tail = " ".join(f"a{i}" for i in range(10))
    b_tail = " ".join(f"b{i}" for i in range(10))
    d = _docs(spark, [
        (1, shared + " " + a_tail),
        (2, shared + " " + b_tail),
        (3, shared),
    ])
    got = {r["doc_id"]: r["text"] for r in dedup_spans(d, span_words=10).collect()}
    assert got == {1: a_tail, 2: b_tail, 3: ""}


def test_dedup_lines_boilerplate(spark):
    """Shared nav/footer lines vanish; unique content and order survive."""
    from polipus_spark.functions.dedup import dedup_lines

    nav, footer = "HOME | ABOUT | CONTACT", "copyright example inc"
    d = _docs(spark, [
        (1, f"{nav}\narticle one body text\n{footer}"),
        (2, f"{nav}\narticle two different text\n{footer}"),
    ])
    got = {r["doc_id"]: r["text"] for r in dedup_lines(d).collect()}
    assert got == {1: "article one body text", 2: "article two different text"}


def test_fuzzy_dedup_pipeline(spark):
    """Exact copy + near-copy + distinct doc: exact stage drops the copy,
    LSH+Jaccard+CC drops the near-copy, min-id and the distinct doc stay."""
    from polipus_spark.functions.dedup import fuzzy_dedup

    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "shines bright over the green hills and the wide river flows")
    near = base.replace("green", "blue")
    far = "completely unrelated words about spark dataframes and shuffles here"
    d = _docs(spark, [(1, base), (2, base), (3, near), (4, far)])
    kept = sorted(r["doc_id"] for r in fuzzy_dedup(d).collect())
    assert kept == [1, 4]


def test_connected_components_empty_pairs(spark):
    from polipus_spark.functions.dedup import near_dup_groups

    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    docs = _docs(spark, [(1, "a"), (2, "b")])
    groups = {r["doc_id"]: r["component"]
              for r in near_dup_groups(docs, pairs).collect()}
    assert groups == {1: 1, 2: 2}


def test_decontamination(spark):
    """Doc sharing one 8-gram with the benchmark is flagged and dropped;
    clean doc survives; counts are exact."""
    from polipus_spark.functions.decontam import (
        contamination_counts, decontaminate,
    )

    bench = _docs(spark, [
        (100, "what is the capital of france the answer is paris of course"),
    ])
    leaky = (1, "quiz says what is the capital of france the answer we know")
    clean = (2, "totally different text with no overlap whatsoever in any span")
    d = _docs(spark, [leaky, clean])
    got = {r["doc_id"]: r["n_contaminated"]
           for r in contamination_counts(d, bench).collect()}
    # the shared span "what is the capital of france the answer" is exactly
    # 8 words → exactly 1 overlapping 8-gram
    assert got[1] == 1 and got[2] == 0
    kept = [r["doc_id"] for r in decontaminate(d, bench).collect()]
    assert kept == [2]


# ------------------------------------------------------------ similarity


def test_bruteforce_topk_exact(spark):
    from polipus_spark.functions.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = brute_force_topk(emb.where(F.col("vec_id") == 0), emb, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with enough probes should recover most brute-force neighbors."""
    from polipus_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(q, emb, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk(q, emb, n_centroids=4, k=5, n_probe=4).collect()}
    # n_probe == n_centroids ⇒ scans everything ⇒ identical to brute force
    assert ivf == bf


def test_kmeans_recovers_separated_clusters(spark):
    """Lloyd refinement on 3 well-separated direction clusters: every vector
    lands with its own cluster-mates regardless of which seeds were drawn,
    and the refined centroids point at the 3 true directions."""
    from polipus_spark.functions.similarity import ivf_assign

    rng = np.random.default_rng(7)
    dirs = np.eye(3)  # three orthogonal cluster directions
    rows = []
    for i in range(60):
        base = dirs[i % 3]
        noisy = base + rng.normal(0, 0.05, 3)
        rows.append((i, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: r["centroid_id"]
           for r in ivf_assign(emb, n_centroids=3, refine_iters=5).collect()}
    # partition must coincide with vec_id % 3 (up to centroid relabeling)
    label_of = {}
    for vid, cid in got.items():
        true = vid % 3
        assert label_of.setdefault(true, cid) == cid, (
            f"cluster {true} split across centroids {label_of[true]} and {cid}"
        )
    assert len(set(label_of.values())) == 3


def test_ivf_topk_with_kmeans_refinement(spark):
    """refine_iters>0 path: full-probe IVF over k-means lists still equals
    brute force (partitioning never changes the union of candidates)."""
    from polipus_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(q, emb, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk(q, emb, n_centroids=4, k=5, n_probe=4,
                             refine_iters=3).collect()}
    assert ivf == bf


def test_quantize_int8_bounds_and_zero(spark):
    from polipus_spark.functions.similarity import quantize_int8

    rows = [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: (list(r["q"]), r["scale"])
           for r in quantize_int8(emb).collect()}
    # scale=1.0: 0.5→64 (floor(63.5+0.5)), -1.0→-127, 0.25→32 (floor(32.25))
    assert got[0] == ([64, -127, 32], 1.0)
    assert got[1] == ([0, 0, 0], 0.0)
    # dequantized error ≤ scale/127 half-step per component
    emb2 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    j = quantize_int8(emb2).join(emb2, "vec_id").limit(50).collect()
    for r in j:
        for qi, vi in zip(r["q"], r["embedding"]):
            assert abs(qi * r["scale"] / 127.0 - vi) <= r["scale"] / 127.0
    assert all(all(-127 <= qi <= 127 for qi in r["q"]) for r in j)


def test_ivf_index_dpp_and_equality(spark, tmp_path):
    """Persisted IVF index: vectors land in centroid_id= list directories,
    the probe plan carries a dynamic-partition-pruning subquery (the scan
    reads only probed lists), and full-probe results equal brute force."""
    import os

    from polipus_spark.functions.similarity import (
        brute_force_topk, build_ivf_index, ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "ivf")
    build_ivf_index(emb, d, n_centroids=4)
    dirs = {e for e in os.listdir(d + "/vectors") if e.startswith("centroid_id=")}
    assert len(dirs) == 4

    q = emb.where(F.col("vec_id") < 5)
    out = ivf_topk_indexed(spark, q, d, k=5, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, emb, k=5).collect()}
    ix = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert ix == bf


def test_asof_join_hand_cases(spark):
    """Backward as-of semantics on crafted rows: same-instant right row IS
    matched (<= convention), an earlier-than-everything left row gets NULL,
    a key with no right rows gets NULL, and the latest preceding row wins
    over older ones. Plan has exactly one exchange pair (union → window),
    no join operator at all."""
    from polipus_spark.operators.asof import asof_join

    clicks = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 5.0), (3, 1, 1.0), (4, 2, 7.0)],
        "event_id long, user_id long, ts double")
    views = spark.createDataFrame(
        [(100, 1, 5.0), (101, 1, 9.0)],
        "view_id long, user_id long, ts double")
    out = asof_join(clicks, views, keys=["user_id"], ts_col="ts",
                    payload_cols=["view_id"])
    assert "Join" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["event_id"]: r["view_id"] for r in out.collect()}
    assert got == {1: 101, 2: 100, 3: None, 4: None}


def test_bm25_hand_ranking(spark):
    """BM25 on a 3-doc corpus: higher tf in a shorter doc outranks lower
    tf in a longer one; a term's specialist doc tops its query; docs
    without any query term never appear."""
    from polipus_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple apple banana"),
         (2, "apple banana banana cherry"),
         (3, "cherry cherry")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "apple"), (1, "cherry")], "query_id int, text string")
    rows = bm25_topk(docs, qs, k=3).collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert by_q[0] == [1, 2]       # apple: d1 (tf 2, dl 3) over d2 (tf 1)
    assert by_q[1] == [3, 2]       # cherry: d3 specialist first
    assert 3 not in by_q[0]        # no 'apple' in d3


def test_pagerank_hand_cases(spark):
    """Integer-exact PageRank: a 2-cycle is stationary at scale/2 per node;
    a single edge 1→2 leaves node 2 dangling, whose mass redistributes
    (hand-derived values); total mass stays ~scale (floor losses only)."""
    from polipus_spark.operators.graph import pagerank

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(cyc, n_iter=2).collect()}
    assert got == {1: 500_000_000_000, 2: 500_000_000_000}

    one = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(one, n_iter=1).collect()}
    # base 75e9; node1 gets only floor(dm/n)=250e9 damped; node2 gets
    # the full contribution 500e9 plus the dangling share
    assert got == {1: 287_500_000_000, 2: 712_500_000_000}

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    edges = ev.select(F.col("user_id").alias("src"),
                      (F.col("event_id") % 97).cast("bigint").alias("dst")) \
        .where(F.col("src") != F.col("dst"))
    rows = pagerank(edges, n_iter=3).collect()
    total = sum(r["rank_scaled"] for r in rows)
    assert 0.999 * 10**12 <= total <= 10**12


def test_time_rollup_matches_direct(spark, tmp_path):
    """Continuous-aggregate contract: pruned rollup buckets + re-aggregated
    raw tail == direct aggregation over raw events, for a range spanning
    both sides of the watermark; the rollup scan carries a bucket
    PartitionFilter (static pruning); unaligned boundaries raise."""
    import pytest

    from polipus_spark.operators.rollup import build_time_rollup, rollup_range_agg

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(F.unix_timestamp("ts").cast("bigint").alias("es"),
                "event_type", "value")
    )
    t0 = 1704067200
    split, lo, hi = t0 + 12 * 3600, t0 + 3600, t0 + 20 * 3600
    d = str(tmp_path / "rollup")
    build_time_rollup(ev.where(F.col("es") < split), d)

    out = rollup_range_agg(spark, d, ev.where(F.col("es") >= split),
                           split_es=split, from_es=lo, to_es=hi)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan
    direct = {
        (r["event_type"], r["n_events"], r["sum_value_cents"])
        for r in ev.where((F.col("es") >= lo) & (F.col("es") < hi))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .cast("bigint").alias("sum_value_cents")).collect()
    }
    got = {(r["event_type"], r["n_events"], r["sum_value_cents"])
           for r in out.collect()}
    assert got == direct and len(got) > 0

    with pytest.raises(ValueError, match="not aligned"):
        rollup_range_agg(spark, d, ev, split_es=split, from_es=lo + 7,
                         to_es=hi)


def test_range_join_hand_cases(spark):
    """Bucketed range join: inclusive bounds at both ends, an interval
    spanning a bucket boundary still matches points in both buckets, a
    point in no interval drops out, overlapping intervals each match —
    and the plan is an equi hash join, never a nested-loop theta join."""
    from polipus_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, 95), (2, 100), (3, 105), (4, 250)],
        "pid long, es long")
    ivs = spark.createDataFrame(
        [(10, 90, 100), (11, 100, 140), (12, 900, 950)],
        "iid long, ws long, we long")
    out = range_join(pts, ivs, ts_col="es", start_col="ws", end_col="we",
                     bucket_width=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    # 95∈[90,100]; 100∈[90,100] AND [100,140] (inclusive ends, overlap);
    # 105∈[100,140] (interval spans the 100-bucket boundary); 250 matches
    # nothing; interval 12 is empty
    assert got == [(1, 10), (2, 10), (2, 11), (3, 11)]


def test_bpe_train_hand_checked(spark):
    """BPE on 'aaab aaab ab' is fully hand-computable: merge 1 = (a,a) with
    weighted count 4 (two (a,a) pairs per 'aaab' × 2 occurrences), merge 2
    = (a,b) count 3, merge 3 = (aa,ab) count 2, then no pairs remain (the
    loop stops early even though n_merges=6). Exercises the greedy
    left-to-right scan ((a)(a)(a)(b) → (aa)(a)(b), NOT (a)(aa)(b)) and the
    count-desc/lex tiebreak."""
    from polipus_spark.functions.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab")], "doc_id long, text string")
    got = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
           for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3), (3, "aa", "ab", 2)]

    seg = {r["word"]: r["pieces"] for r in bpe_segment(
        spark.createDataFrame([(1, "aaab ab aab")], "doc_id long, text string"),
        [("a", "a"), ("a", "b"), ("aa", "ab")]).collect()}
    assert seg == {"aaab": ["aaab"], "ab": ["ab"], "aab": ["aa", "b"]}


def test_bpe_counts_non_increasing(spark):
    """Merging only removes occurrences of existing pairs, and any pair
    born from a merge is bounded by that merge's count — so the trained
    pair_count sequence is non-increasing (a real invariant of BPE, and a
    regression tripwire for the pair-count dataflow)."""
    from polipus_spark.functions.bpe import bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()
    assert [r["merge_rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["pair_count"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert len(rows) >= 3


def test_incremental_dedup_store(spark, tmp_path):
    """Persisted-minhash incremental dedup: an exact copy of a stored doc
    agrees on all 16 signature positions, an unrelated doc yields no pair,
    a store-appended batch is visible to the next probe, and the plan joins
    via broadcast (the store side streams — no SortMergeJoin)."""
    from polipus_spark.functions.dedup import (
        build_minhash_store, incremental_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .where(F.col("doc_id") < 100)
    store_dir = str(tmp_path / "sigstore")
    build_minhash_store(docs, store_dir)

    first = docs.select("doc_id", "text").orderBy("doc_id").first()
    batch = spark.createDataFrame(
        [(1000, first["text"]),
         (1001, "zanzibar quokka perihelion mahogany typewriter eleven")],
        "doc_id long, text string")
    out = incremental_dedup_pairs(spark, batch, store_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    rows = out.collect()
    exact = [r for r in rows
             if r["new_id"] == 1000 and r["old_id"] == first["doc_id"]]
    assert exact and exact[0]["n_match"] == 16
    assert not [r for r in rows if r["new_id"] == 1001]

    # append-mode: admit the unrelated doc, and the next probe sees it
    build_minhash_store(
        batch.where(F.col("doc_id") == 1001), store_dir, mode="append")
    probe2 = spark.createDataFrame(
        [(2000, "zanzibar quokka perihelion mahogany typewriter eleven")],
        "doc_id long, text string")
    rows2 = incremental_dedup_pairs(spark, probe2, store_dir).collect()
    assert any(r["new_id"] == 2000 and r["old_id"] == 1001
               and r["n_match"] == 16 for r in rows2)


def test_incremental_dedup_broadcast_gate_fallback(spark, tmp_path):
    """The batch-side broadcast is size-GATED (r5 verdict #1): over the
    gate the plan must carry no broadcast HINT on the batch side (the
    plain (band, bucket) equi-join fallback — AQE may still pick any
    strategy from real sizes at scale), and the fallback returns the
    identical pair set."""
    from polipus_spark.functions.dedup import (
        build_minhash_store, incremental_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .where(F.col("doc_id") < 60)
    store_dir = str(tmp_path / "sigstore_gate")
    build_minhash_store(docs, store_dir)
    batch = docs.select((F.col("doc_id") + 5000).alias("doc_id"), "text") \
        .where(F.col("doc_id") < 5030)

    gated = incremental_dedup_pairs(spark, batch, store_dir,
                                    broadcast_max_rows=0)
    hinted = incremental_dedup_pairs(spark, batch, store_dir)
    # the hint is a logical-plan artifact — assert on the optimized plan,
    # not the physical one (auto-broadcast from real sizes is fine)
    assert "broadcast" not in gated._jdf.queryExecution().optimizedPlan() \
        .toString().lower()
    assert "broadcast" in hinted._jdf.queryExecution().optimizedPlan() \
        .toString().lower()
    key = lambda r: (r["new_id"], r["old_id"], r["n_match"])  # noqa: E731
    assert sorted(map(key, gated.collect())) == \
        sorted(map(key, hinted.collect()))


def test_ivfpq_index_dpp_and_fullprobe_equality(spark, tmp_path):
    """IVF-PQ composed index: residual-PQ codes live beside the float
    column in centroid_id= list directories, the ADC scan carries a DPP
    subquery, and with every list probed + overfetch covering the whole
    corpus the exact float re-rank makes the result EQUAL brute force —
    the approximation only ever narrows candidates, never reorders the
    final k."""
    import os

    from polipus_spark.functions.similarity import (
        brute_force_topk, build_ivfpq_index, ivfpq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, d, n_centroids=4, m=4, n_codes=4, n_iter=2)
    dirs = {e for e in os.listdir(d + "/vectors") if e.startswith("centroid_id=")}
    assert len(dirs) == 4
    cb = spark.read.parquet(d + "/codebooks")
    assert cb.count() == 4 * 4  # m subspaces × n_codes
    assert cb.select(F.size("_cent")).first()[0] == 16  # dim 64 / m 4

    q = emb.where(F.col("vec_id") < 5)
    out = ivfpq_topk(spark, q, d, m=4, k=5, n_probe=4, overfetch=200)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    bf = {(r["query_id"], r["neighbor_id"], r["rank"])
          for r in brute_force_topk(q, emb, k=5).collect()}
    ix = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in out.collect()}
    assert ix == bf


def test_ivfpq_narrow_probe_deterministic_and_ranked(spark, tmp_path):
    """Narrow probe (the production path): deterministic across runs, 5
    ranks per query, and the returned order agrees with TRUE cosine (the
    re-rank is exact even when the ADC prefilter is approximate)."""
    from polipus_spark.functions.similarity import build_ivfpq_index, ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "ivfpq2")
    build_ivfpq_index(emb, d, n_centroids=8, m=4, n_codes=4, n_iter=2)
    q = emb.where(F.col("vec_id") < 8)
    a = ivfpq_topk(spark, q, d, m=4, k=5, n_probe=2).collect()
    b = ivfpq_topk(spark, q, d, m=4, k=5, n_probe=2).collect()
    key = lambda rows: sorted((r["query_id"], r["neighbor_id"], r["rank"])
                              for r in rows)
    assert key(a) == key(b)
    by_q = {}
    for r in a:
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(u, v):
        du = sum(x * y for x, y in zip(u, v))
        nu = sum(x * x for x in u) ** 0.5
        nv = sum(x * x for x in v) ** 0.5
        return du / (nu * nv)

    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        sims = [cos(vecs[qid], vecs[r["neighbor_id"]]) for r in rows]
        assert all(s1 >= s2 - 1e-9 for s1, s2 in zip(sims, sims[1:]))


def test_lsh_embedding_buckets_deterministic(spark):
    from polipus_spark.functions.similarity import lsh_bucket_candidates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = lsh_bucket_candidates(emb, n_bands=8, bits_per_band=4, dim=64).count()
    b = lsh_bucket_candidates(emb, n_bands=8, bits_per_band=4, dim=64).count()
    assert a == b > 0


def test_lsh_kernel_matches_column_spec(spark):
    """The Arrow numpy sketch kernel (lsh_band_rows, V @ H.T) must be
    bit-identical to the Column executable spec (band_sketches) — which in
    turn is what the DuckDB oracle inlines. Full banding config (L=8, b=4
    AND the default L=16, b=8) over real sf0.001 embeddings; any sign-fold
    divergence between BLAS matmul and the sequential Column fold would
    flip a bucket bit and show up here."""
    from polipus_spark.functions.similarity import band_sketches, lsh_band_rows

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    for n_bands, bpb in [(8, 4), (16, 8)]:
        kernel = {
            (r["id"], r["band"], r["bucket"])
            for r in lsh_band_rows(emb, n_bands, bpb, dim=64).collect()
        }
        spec = {
            (r["id"], r["band"], r["bucket"])
            for r in emb.select(
                F.col("vec_id").alias("id"),
                F.explode(band_sketches(F.col("embedding"), n_bands, bpb, 64)).alias("_bb"),
            ).select("id", "_bb.band", "_bb.bucket").collect()
        }
        assert kernel == spec


def test_knn_graph_kernel_matches_ivf_topk_spec(spark):
    """knn_graph (Arrow matmul per inverted list) must reproduce
    ivf_topk(emb, emb, n_probe=1) — the Column executable spec the DuckDB
    oracle inlines — exactly: same seed centroids, same (cosine desc, id
    asc) ranking, self excluded. Any summation-order divergence between
    the BLAS matmul and the sequential Column fold that flipped a rank
    would show up here. Also checks basic shape: k rows per query when
    the list is wide enough, no self edges."""
    from polipus_spark.functions.similarity import ivf_topk, knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for n_centroids, k in [(4, 3), (8, 2)]:
        kernel = {(r["query_id"], r["neighbor_id"], r["rank"])
                  for r in knn_graph(emb, n_centroids, k).collect()}
        spec = {(r["query_id"], r["neighbor_id"], r["rank"])
                for r in ivf_topk(emb, emb, n_centroids=n_centroids, k=k,
                                  n_probe=1).collect()}
        assert kernel == spec
        assert all(q != n for q, n, _ in kernel)


def test_near_dup_lsh_default_recall(spark):
    """LSH-prefiltered near_dup_pairs (the default path): subset of exact
    pairs with recall ≥ 0.6 at threshold 0.4 when banded for that range
    (L=8, b=4 — banding math predicts ~0.75+). The DEFAULT banding
    (L=16, b=8, tuned for threshold 0.9) must keep candidate volume under
    10% of all-pairs on the sf0.01 embeddings — the point of the prefilter
    (measured 7.1% vs 40% for the coarse banding)."""
    from polipus_spark.functions.similarity import (
        lsh_bucket_candidates, near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in near_dup_pairs(emb, threshold=0.4, exact=True).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in near_dup_pairs(emb, threshold=0.4,
                                   n_bands=8, bits_per_band=4).collect()}
    assert lsh <= exact
    assert len(exact) >= 50
    assert len(lsh) / len(exact) >= 0.6
    n = emb.count()
    assert lsh_bucket_candidates(emb).count() < 0.10 * n * (n - 1) / 2


def test_ivf_quantized_index(spark, tmp_path):
    """Quantized persisted IVF (r3 VERDICT #6): int8 codes + scale stored
    beside the float column; scoring scans ONLY the int8 columns (column
    pruning visible in ReadSchema), DPP prunes the probed lists, and the
    exact float re-rank makes the result identical to the float path."""
    import re

    from polipus_spark.functions.similarity import build_ivf_index, ivf_topk_indexed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "ivf_q")
    build_ivf_index(emb, d, n_centroids=4, quantized=True)
    q = emb.where(F.col("vec_id") < 5)
    out = ivf_topk_indexed(spark, q, d, k=5, n_probe=2, quantized=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # the approx-scoring scan reads int8 codes, never the float column
    scan_schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert any("q:" in s and "embedding" not in s for s in scan_schemas), scan_schemas
    flt = ivf_topk_indexed(spark, q, d, k=5, n_probe=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, flt.collect()))


def test_semantic_dedup_hot_cluster_fallback(spark):
    """r3 VERDICT #4: clusters above hot_cluster_cap must take the
    banded-LSH path (pair work ∝ bucket collisions) instead of the n_k²
    within-cluster join — and still find the true near-dup pairs. Crafted
    corpus: 60 seeded random unit-ish vectors, each with a +ε twin
    (cosine ≈ 0.999); K=1 puts all 120 in ONE cluster of size > cap, so
    every returned pair comes from the LSH fallback. At cosine 0.999 the
    default banding's recall is ~1, so the result must EQUAL the exact
    O(n²) pair set. Auto-K (n_centroids=None) sanity-checked on the real
    embeddings table."""
    import numpy as np

    from polipus_spark.functions.similarity import (
        near_dup_pairs, semantic_dedup_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(60, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.randn(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {(r["id_a"], r["id_b"])
           for r in semantic_dedup_pairs(emb, threshold=0.9, n_centroids=1,
                                         hot_cluster_cap=50).collect()}
    exact = {(r["id_a"], r["id_b"])
             for r in near_dup_pairs(emb, threshold=0.9, exact=True).collect()}
    assert len(exact) >= 60  # every twin pair qualifies
    assert got == exact

    real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = semantic_dedup_pairs(real, threshold=0.5, n_centroids=None,
                                target_cluster_size=128)
    assert set(auto.columns) == {"id_a", "id_b", "centroid_id"}
    assert {(r["id_a"], r["id_b"]) for r in auto.collect()} <= {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(real, threshold=0.5, exact=True).collect()
    }


def test_semantic_dedup_report_telemetry(spark):
    """r4 VERDICT #8: after a semantic_dedup_pairs run, the report exposes
    (K, hot-cluster count, exact vs LSH pair counts) — the split behind the
    query's cost. All-hot (K=1, tiny cap) ⇒ every pair is LSH-path; a
    roomy cap ⇒ every pair is exact-path."""
    import numpy as np
    import pytest

    from polipus_spark.functions import similarity as sim

    rng = np.random.RandomState(11)
    base = rng.randn(20, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.randn(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    all_pairs = sim.semantic_dedup_pairs(
        emb, threshold=0.9, n_centroids=1, hot_cluster_cap=10).count()
    rep = sim.semantic_dedup_report()
    assert rep["n_centroids"] == 1 and rep["hot_clusters"] == 1
    assert rep["exact_pairs"] == 0 and rep["lsh_pairs"] == all_pairs > 0

    cold_pairs = sim.semantic_dedup_pairs(
        emb, threshold=0.9, n_centroids=1, hot_cluster_cap=1000).count()
    rep = sim.semantic_dedup_report()
    assert rep["hot_clusters"] == 0 and rep["lsh_pairs"] == 0
    assert rep["exact_pairs"] == cold_pairs > 0

    sim._LAST_SEMANTIC_RUN = None
    with pytest.raises(RuntimeError, match="no semantic_dedup_pairs"):
        sim.semantic_dedup_report()


def test_near_dup_pairs_conflicting_flags_raise(spark):
    from polipus_spark.functions.similarity import near_dup_pairs

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not both"):
        near_dup_pairs(emb, exact=True, use_lsh_prefilter=True, dim=2)


def test_pq_train_encode_topk(spark):
    """PQ (r4): codebook shape m·K, codes in [0 code-id set], encoding
    deterministic under repartition, full-codebook ADC == exact, and ADC
    recall far above random with a coarse codebook."""
    from polipus_spark.functions.similarity import (
        brute_force_topk, pq_encode, pq_topk, pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, n_codes=4, n_iter=2)
    rows = cb.collect()
    assert len(rows) == 16  # m=4 subspaces × K=4 codes
    assert all(len(r["_cent"]) == 16 for r in rows)  # 64/4 dims each
    code_ids = {r["code_id"] for r in rows}

    codes = pq_encode(emb, cb, m=4)
    c1 = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(len(v) == 4 and set(v) <= code_ids for v in c1.values())
    # deterministic at any parallelism
    c2 = {r["vec_id"]: r["codes"]
          for r in pq_encode(emb.repartition(7), cb, m=4).collect()}
    assert c1 == c2

    q = emb.where(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, emb, k=10).collect()}
    pq = {(r["query_id"], r["neighbor_id"])
          for r in pq_topk(q, codes, cb, m=4, k=10).collect()}
    n = emb.count()
    # random top-10 overlap expectation is 10·10/n per query ≈ 2 total here;
    # ADC with even a 4×4 codebook must do far better
    assert len(pq & bf) > 5 * (100 / n) * 3

    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=5)


def test_triangle_counts_hand_cases(spark):
    """K4 → every node in 3 triangles; a path has none; reversed and
    duplicate edges collapse before orientation so they never double-count."""
    from polipus_spark.operators.graph import triangle_counts

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(k4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(path).count() == 0

    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1)],
        "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(messy).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_gap_fill_hand_cases(spark):
    """Grid spans the GLOBAL min..max for every key; gap rows zero-fill
    counts; LOCF carries the last observed value and stays NULL before a
    series' first observation."""
    from polipus_spark.operators.asof import gap_fill

    df = spark.createDataFrame(
        [("a", 0, 2, 100), ("a", 30, 1, 700), ("b", 20, 5, 900)],
        "k string, bucket long, n long, v long")
    rows = gap_fill(df, keys=["k"], bucket_col="bucket",
                    count_cols=["n"], locf_cols=["v"], step=10).collect()
    got = {(r["k"], r["bucket"]): (r["n"], r["v_locf"]) for r in rows}
    assert len(got) == 8  # 2 keys x buckets {0,10,20,30}
    assert got[("a", 0)] == (2, 100)
    assert got[("a", 10)] == (0, 100)
    assert got[("a", 20)] == (0, 100)
    assert got[("a", 30)] == (1, 700)
    assert got[("b", 0)] == (0, None)
    assert got[("b", 10)] == (0, None)
    assert got[("b", 20)] == (5, 900)
    assert got[("b", 30)] == (0, 900)


def test_clustering_coefficients_hand_cases(spark):
    """K4 → cc = 1.0 (10000 scaled) everywhere; a path's middle node has
    deg 2 but no triangle → cc 0; deg<2 endpoints are excluded."""
    from polipus_spark.operators.graph import clustering_coefficients

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long")
    got = {r["node"]: (r["deg"], r["n_tri"], r["cc_scaled"])
           for r in clustering_coefficients(k4).collect()}
    assert got == {n: (3, 3, 10000) for n in range(4)}

    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["node"]: (r["deg"], r["n_tri"], r["cc_scaled"])
           for r in clustering_coefficients(path).collect()}
    assert got == {2: (2, 0, 0)}


def test_dedup_near_survivor_best(spark):
    """survivor='best' keeps the most complete copy per cluster (min_id
    keeps the label); singletons survive under both policies."""
    from polipus_spark.functions.dedup import dedup_near

    docs = spark.createDataFrame(
        [(1, "short copy"), (2, "the much longer and more complete copy"),
         (3, "unrelated singleton")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    min_ids = {r["doc_id"] for r in dedup_near(docs, pairs).collect()}
    assert min_ids == {1, 3}
    best = {r["doc_id"]
            for r in dedup_near(docs, pairs, survivor="best").collect()}
    assert best == {2, 3}
    import pytest

    with pytest.raises(ValueError, match="survivor"):
        dedup_near(docs, pairs, survivor="wat")


def test_hamming_near_pairs_rejects_zero_width_bands(spark):
    import pytest

    from polipus_spark.functions.dedup import hamming_near_pairs

    sigs = spark.createDataFrame([(1, 3)], "id long, sh long")
    with pytest.raises(ValueError, match="non-empty bands"):
        hamming_near_pairs(sigs, n_bits=2, k=2)


def test_hash_embed_components(spark):
    """hash_embed matches a hand computation of the hashing trick: bucket
    from md5 chars 1-7, sign from char 8 — component j = signed count."""
    import hashlib

    from polipus_spark.functions.text import hash_embed

    text = "alpha beta beta Gamma"
    dim = 8
    expect = [0] * dim
    for w in text.lower().split():
        h = hashlib.md5(w.encode()).hexdigest()
        b = int(h[:7], 16) % dim
        s = int(h[7], 16) % 2 * 2 - 1
        expect[b] += s
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = df.select(hash_embed(F.col("text"), dim).alias("e")).collect()
    assert got[0]["e"] == expect

    # empty text -> all-zero vector, not nulls
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    assert empty.select(
        hash_embed(F.col("text"), 4).alias("e")).collect()[0]["e"] == [0] * 4


def test_hash_embed_near_pairs_identical_and_zero_norm(spark):
    """Identical docs pair at hamming 0 / cos2_bps 10000; an unrelated doc
    stays out; empty (zero-norm) docs are excluded before banding."""
    from polipus_spark.functions.dedup import hash_embed_near_pairs

    long_a = " ".join(f"word{i} token{i} stuff{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_a),
         (3, " ".join(f"zzz{i} qqq{i} mmm{i}" for i in range(40, 80))),
         (4, "")],
        "doc_id long, text string")
    rows = hash_embed_near_pairs(docs, dim=60, k=3).collect()
    got = {(r["id_a"], r["id_b"]): (r["hamming"], r["cos2_bps"])
           for r in rows}
    assert got[(1, 2)] == (0, 10000)
    assert all(4 not in pair for pair in got)


def test_gopher_rules_each_rule_fires(spark):
    """One doc per rule violation plus one clean keeper; flags are exact
    integer inequalities matching Rae et al. 2021 A1.1."""
    from polipus_spark.functions.text import gopher_rules

    good = " ".join(
        "the quick brown fox jumps over that lazy dog with vigor"
        .split() * 6)  # 60 words, mean len ~4, stopwords the/that/with
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short with the words"),                  # word count
            (3, " ".join(["extraordinarily"] * 60)),          # mean len > 10
            (4, good + " " + "#" * 1 + " #" * 20),            # symbols
            (5, "\n".join(["- bullet point here"] * 10)),     # bullets
            (6, "\n".join([good, "trailing thought..."] * 9)  # ellipsis>30%
             .replace(good, good, 1)),
            (7, " ".join(["1234"] * 60)),                     # alpha < 80%
            (8, " ".join(["banana"] * 60)),                   # no stopwords
        ],
        "doc_id long, text string",
    )
    r = gopher_rules(F.col("text"))
    rows = {row["doc_id"]: row for row in docs.select(
        "doc_id", *[c.alias(n) for n, c in r.items()]).collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["r_word_count"] == 0 and rows[2]["keep"] == 0
    assert rows[3]["r_mean_word_len"] == 0
    assert rows[4]["r_symbol_ratio"] == 0
    assert rows[5]["r_bullet_lines"] == 0
    assert rows[7]["r_alpha_words"] == 0
    assert rows[8]["r_stopwords"] == 0 and rows[8]["keep"] == 0


def test_gopher_rules_ellipsis_lines(spark):
    from polipus_spark.functions.text import gopher_rules

    text = "\n".join(["first line..."] * 4 + ["plain line"] * 6)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = gopher_rules(F.col("text"))
    row = df.select(r["r_ellipsis_lines"].alias("e")).collect()[0]
    assert row["e"] == 0  # 40% > 30%


def test_duplicated_window_stats_hand_case(spark):
    """n=3 windows: docs 1 and 2 share exactly the gram 'a b c'; doc 3 is
    shorter than n so its single whole-text window is unique."""
    from polipus_spark.functions.dedup import duplicated_window_stats

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y a b c"), (3, "q r")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in duplicated_window_stats(docs, n=3).collect()}
    assert got == {1: (2, 1), 2: (3, 1), 3: (1, 0)}


def test_dsir_weights_hand_case(spark):
    """Weights match a hashlib replay of the fixed-point DSIR ratio sum;
    a doc with no target-overlapping buckets gets weight 0 only when the
    ratio for its buckets is 0."""
    import hashlib

    from polipus_spark.functions.sampling import dsir_weights

    dim, scale = 8, 10_000
    texts = {1: "aa bb aa", 2: "aa cc", 3: ""}
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string")
    target = docs.where(F.col("doc_id") == 1)

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:7], 16) % dim

    raw, tgt = {}, {}
    for did, t in texts.items():
        for w in t.lower().split():
            raw[bucket(w)] = raw.get(bucket(w), 0) + 1
            if did == 1:
                tgt[bucket(w)] = tgt.get(bucket(w), 0) + 1
    expect = {}
    for did, t in texts.items():
        f = {}
        for w in t.lower().split():
            f[bucket(w)] = f.get(bucket(w), 0) + 1
        expect[did] = sum(
            n * (tgt.get(b, 0) * scale // raw[b]) for b, n in f.items())
    got = {r["doc_id"]: r["weight"]
           for r in dsir_weights(docs, target, dim=dim).collect()}
    assert got == expect
    assert got[3] == 0  # empty doc: right-join keeps it at weight 0


def test_remove_duplicated_windows_hand_case(spark):
    """Docs 1/2 share the gram 'a b c' (n=3): its covered positions are
    scrubbed from both, a clean doc passes through untouched, and full
    coverage scrubs to empty text."""
    from polipus_spark.functions.dedup import remove_duplicated_windows

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "z a b c q"), (3, "unique words only"),
         (4, "a b c"), (5, "a b c")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["text"], r["n_removed_words"])
           for r in remove_duplicated_windows(docs, n=3).collect()}
    assert got[1] == ("d e", 3)
    assert got[2] == ("z q", 3)
    assert got[3] == ("unique words only", 0)
    # 4 and 5 are whole-doc dups (3 words = one window): scrub to empty
    assert got[4] == ("", 3) and got[5] == ("", 3)


def test_funnel_levels_hand_case(spark):
    """Greedy chain semantics: window anchored at the FIRST step-0 event;
    out-of-window and out-of-order steps don't extend; a step-1 event at
    the exact anchor timestamp doesn't count (strictly later)."""
    from polipus_spark.operators.funnel import funnel_levels

    rows = [
        # u1: full chain inside the window
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:10:00", "click"),
        (3, 1, "2024-01-01 00:20:00", "purchase"),
        # u2: click lands outside the 1h window -> level 1
        (4, 2, "2024-01-01 00:00:00", "view"),
        (5, 2, "2024-01-01 02:00:00", "click"),
        # u3: purchase BEFORE click -> level 2 only
        (6, 3, "2024-01-01 00:00:00", "view"),
        (7, 3, "2024-01-01 00:05:00", "purchase"),
        (8, 3, "2024-01-01 00:30:00", "click"),
        # u4: click at the same instant as the anchor view -> not strictly
        # later -> level 1
        (9, 4, "2024-01-01 00:00:00", "view"),
        (10, 4, "2024-01-01 00:00:00", "click"),
        # u5: no view at all -> absent from the output
        (11, 5, "2024-01-01 00:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        [(i, u, ts, et) for i, u, ts, et in rows],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["user_id"]: r["level"]
           for r in funnel_levels(
               ev, ["view", "click", "purchase"], window_sec=3600
           ).collect()}
    assert got == {1: 3, 2: 1, 3: 2, 4: 1}


def test_retention_cohorts_hand_case(spark):
    """Two users joining in week 0, one active again in week 1; a week-1
    joiner counts only in their own cohort."""
    from polipus_spark.operators.funnel import retention_cohorts

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00"),   # Monday, week 0
            (2, 2, "2024-01-03 10:00:00"),   # week 0
            (3, 1, "2024-01-09 10:00:00"),   # week 1 activity
            (4, 3, "2024-01-10 10:00:00"),   # joins in week 1
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in retention_cohorts(ev).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_funnel_levels_randomized_parity(spark):
    """200 seeded-random events across 20 users: the Spark fold matches a
    pure-Python greedy replay exactly (levels AND anchor timestamps)."""
    import random

    from polipus_spark.operators.funnel import funnel_levels

    rng = random.Random(42)
    steps = ["view", "click", "purchase"]
    types = steps + ["error", "signup"]
    window_us = 500 * 1_000_000
    rows = []
    for eid in range(200):
        rows.append((eid, rng.randrange(20), rng.randrange(0, 3000),
                     rng.choice(types)))

    expect = {}
    for uid in range(20):
        evs = sorted((sec, eid, et) for eid, u, sec, et in rows if u == uid)
        level, t1, tlast = 0, None, None
        for sec, eid, et in evs:
            us = sec * 1_000_000
            if level == 0 and et == steps[0]:
                level, t1, tlast = 1, us, us
            elif (0 < level < len(steps) and et == steps[level]
                  and us > tlast and us <= t1 + window_us):
                level, tlast = level + 1, us
        if level >= 1:
            expect[uid] = (level, t1)

    ev = spark.createDataFrame(
        [(eid, u, sec, et) for eid, u, sec, et in rows],
        "event_id long, user_id long, sec long, event_type string",
    ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
    got = {r["user_id"]: (r["level"], r["t1_us"])
           for r in funnel_levels(ev, steps, window_sec=500).collect()}
    assert got == expect


def test_zorder_key_matches_reference(spark):
    """Column interleave == the scalar reference on seeded random pairs,
    including mask wraparound; curve locality: sorting by the key groups
    quadrant-sized blocks (the (0,0)-quadrant prefix property)."""
    import random

    from polipus_spark.functions.zorder import zorder_key, zorder_key_py

    rng = random.Random(7)
    pairs = [(rng.randrange(1 << 18), rng.randrange(1 << 18))
             for _ in range(64)] + [(0, 0), (65535, 65535), (1, 0), (0, 1)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = df.select("a", "b",
                    zorder_key(F.col("a"), F.col("b"), 16).alias("z")
                    ).collect()
    for r in got:
        assert r["z"] == zorder_key_py(r["a"], r["b"], 16), (r["a"], r["b"])
    # prefix property: both coords < 2^8  <=>  key < 2^16
    for r in got:
        in_quadrant = (r["a"] & 0xFFFF) < 256 and (r["b"] & 0xFFFF) < 256
        assert (r["z"] < (1 << 16)) == in_quadrant


def test_cluster_by_zorder_partition_envelopes(spark):
    """Range-partitioning on the Morton key yields per-partition min-max
    envelopes on BOTH dimensions that are tighter than the global range —
    the property parquet row-group pruning exploits."""
    from polipus_spark.functions.zorder import cluster_by_zorder

    rows = [(a, b) for a in range(0, 64, 2) for b in range(0, 64, 2)]
    df = spark.createDataFrame(rows, "a long, b long")
    parts = (
        cluster_by_zorder(df, F.col("a"), F.col("b"), 8, bits=6)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("a"), F.max("a"), F.min("b"), F.max("b"), F.count("*"))
        .collect()
    )
    n_rows = len(rows)
    spans = [(r["max(a)"] - r["min(a)"], r["max(b)"] - r["min(b)"],
              r["count(1)"]) for r in parts if r["count(1)"] > 0]
    # every non-trivial partition covers well under the full 0..62 range
    # in at least one dimension (Z-curve segments are quadrant-compact)
    assert sum(c for _, _, c in spans) == n_rows
    assert all(min(sa, sb) <= 32 for sa, sb, c in spans if c >= 16)


def test_mips_topk_orders_by_dot_not_cosine(spark):
    """The norm-augmentation reduction must rank by INNER PRODUCT: a
    short perfectly-aligned vector (cosine 1.0, dot 0.5) loses to a
    long diagonal one (cosine 0.707, dot 3.0) — the case where cosine
    search and MIPS disagree."""
    from polipus_spark.functions.similarity import mips_topk

    rows = [(0, [1.0, 0.0]),       # the query
            (1, [0.5, 0.0]),       # cos 1.0, dot 0.5
            (2, [3.0, 3.0]),       # cos .707, dot 3.0
            (3, [0.0, 2.0])]       # cos 0,   dot 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["neighbor_id"], r["rank"])
           for r in mips_topk(emb.where(F.col("vec_id") == 0), emb, k=3)
           .orderBy("rank").collect()]
    assert got == [(2, 1), (1, 2), (3, 3)]


def test_refresh_rollup_touches_only_batch_buckets(spark, tmp_path):
    """Incremental refresh rewrites ONLY the buckets the new batch
    touches (file set of untouched partitions is unchanged on disk),
    composes partials exactly (refreshed rollup == full recompute), and
    an empty batch is a no-op."""
    import os

    from polipus_spark.operators.rollup import build_time_rollup, refresh_rollup

    def ev(rows):
        return spark.createDataFrame(rows, "es long, event_type string, value double")

    hist = ev([(0, "a", 1.0), (10, "b", 2.0), (3600, "a", 3.0),
               (7200, "b", 4.0)])
    out = str(tmp_path / "ru")
    build_time_rollup(hist, out)

    def files(bucket):
        d = os.path.join(out, f"bucket={bucket}")
        return {(f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before_0, before_7200 = files(0), files(7200)
    touched = refresh_rollup(spark, out, ev([(3700, "a", 5.0),
                                             (3800, "c", 6.0)]))
    assert touched == [3600]
    assert files(0) == before_0 and files(7200) == before_7200

    got = {(r["bucket"], r["event_type"]): (r["n_events"], r["sum_value_cents"])
           for r in spark.read.parquet(out).collect()}
    full = ev([(0, "a", 1.0), (10, "b", 2.0), (3600, "a", 3.0),
               (7200, "b", 4.0), (3700, "a", 5.0), (3800, "c", 6.0)])
    build_time_rollup(full, str(tmp_path / "full"))
    want = {(r["bucket"], r["event_type"]): (r["n_events"], r["sum_value_cents"])
            for r in spark.read.parquet(str(tmp_path / "full")).collect()}
    assert got == want
    assert refresh_rollup(spark, out, ev([])) == []


def test_containment_pairs_subset_detection(spark):
    """A short doc quoted whole inside a long one: Jaccard is low (subset
    of a much bigger set) but containment is 10000; unrelated docs don't
    pair; a boilerplate shingle shared by ALL docs is df-filtered out and
    creates no pairs by itself."""
    from polipus_spark.functions.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    host = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    boiler = " copyright acme corp"
    docs = spark.createDataFrame(
        [(1, quote),
         (2, host),
         (3, "totally unrelated words here" + boiler),
         (4, "another separate document entirely" + boiler),
         (5, "third unconnected piece of text" + boiler),
         (6, "fourth standalone blob of words" + boiler)],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, min_cont_bps=8000, shingle_k=3,
                             max_df=3).collect()
    got = {(r["id_a"], r["id_b"]): r["cont_bps"] for r in rows}
    # every quote shingle of doc 1 appears in doc 2 (df=2, kept) → full
    # containment; 'copyright acme corp' has df=4 > 3 and is dropped, so
    # docs 3-6 — which share ONLY it — never pair
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 10000


def test_hash_embed_kernel_matches_column_spec(spark):
    """hash_embed_rows (Arrow kernel, the production path) is bit-equal to
    the hash_embed Column expression (the spec the SQL oracles mirror) —
    including empty text, repeated words, and mixed whitespace."""
    from polipus_spark.functions.text import hash_embed, hash_embed_rows

    docs = spark.createDataFrame(
        [(1, "alpha beta beta Gamma"), (2, ""), (3, "  spaced\tout\nwords "),
         (4, " ".join(f"w{i % 7}" for i in range(100)))],
        "doc_id long, text string")
    spec = {r["doc_id"]: r["e"] for r in docs.select(
        "doc_id", hash_embed(F.col("text"), 60).alias("e")).collect()}
    kern = {r["id"]: r["emb"]
            for r in hash_embed_rows(docs, 60).collect()}
    assert spec == kern


def test_minhash_kernel_matches_column_spec(spark):
    """minhash_signature_rows (Arrow kernel, the lsh_candidate_pairs
    default) is bit-equal to the minhash_signature Column spec — short
    docs (whole-text shingle fallback), empty text, repeated shingles."""
    from polipus_spark.functions.dedup import (
        minhash_signature, minhash_signature_rows,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "two words"), (3, ""), (4, "a b c a b c a b c"),
         (5, " ".join(f"tok{i % 11}" for i in range(200)))],
        "doc_id long, text string")
    spec = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", minhash_signature(F.col("text"), 16, 3).alias("s")
    ).collect()}
    kern = {r["id"]: r["_sig"]
            for r in minhash_signature_rows(docs, 16, 3).collect()}
    assert spec == kern


def test_shingle60_kernel_matches_column_spec(spark):
    """shingle60_rows (Arrow kernel, the ngram_jaccard shingle pass) yields
    the same per-doc SET of 60-bit shingle hashes as the
    word_shingles+h60_str Column spec — short docs (whole-text fallback),
    empty text, repeated shingles (distinctness)."""
    from polipus_spark.functions.dedup import shingle60_rows, word_shingles
    from polipus_spark.functions.text import h60_str

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "two words"), (3, ""), (4, "a b c a b c a b c"),
         (5, " ".join(f"tok{i % 11}" for i in range(200)))],
        "doc_id long, text string")
    spec = {r["doc_id"]: sorted(r["s"]) for r in docs.select(
        "doc_id",
        F.transform(word_shingles(F.col("text"), 3),
                    lambda g: h60_str(g)).alias("s"),
    ).collect()}
    kern = {r["doc_id"]: sorted(r["s"]) for r in docs.select(
        "doc_id", shingle60_rows(F.col("text"), 3).alias("s")).collect()}
    assert spec == kern


def test_near_dup_lsh_kernel_matches_column_fold(spark):
    """The per-bucket cosine kernel behind near_dup_pairs' banded path is
    bit-equal to the Column cosine fold it replaced: same pair set as the
    candidates∩cosine-filter formulation at several thresholds, including
    thresholds EQUAL to an actual pair's cosine (strict > means a one-ulp
    kernel difference would flip membership)."""
    from polipus_spark.functions.similarity import (
        cosine, lsh_bucket_candidates, near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .where(F.col("vec_id") < 120)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    cand = lsh_bucket_candidates(emb, 8, 4, 64)
    spec = cand.join(a, "id_a").join(b, "id_b").withColumn(
        "_sim", cosine(F.col("_va"), F.col("_vb")))
    sims = sorted(r["_sim"] for r in spec.collect())
    assert sims, "fixture must yield at least one candidate pair"
    # exact boundary thresholds: a pair's own cosine, and its neighbors
    thresholds = {0.5, 0.9, sims[0], sims[len(sims) // 2], sims[-1]}
    for thr in thresholds:
        want = sorted((r["id_a"], r["id_b"])
                      for r in spec.where(F.col("_sim") > thr).collect())
        got = sorted((r["id_a"], r["id_b"])
                     for r in near_dup_pairs(emb, threshold=thr,
                                             n_bands=8, bits_per_band=4
                                             ).collect())
        assert got == want, f"mismatch at threshold {thr!r}"


def test_interchange_roundtrips_lossless(spark, tmp_path):
    """JSONL and CSV export+read must be lossless on escaping landmines:
    embedded quotes, commas, newlines (both \n and \r\n), backslashes,
    non-ASCII, empty strings, and NULLs in every column type."""
    from polipus_spark.sources.interchange import (
        export_csv, export_jsonl, read_csv, read_jsonl)

    rows = [
        (1, 'plain', 7),
        (2, 'he said "hi", twice', None),
        (3, 'line1\nline2\r\nline3', 0),
        (4, 'back\\slash and tab\tend', -5),
        (5, 'héllo €漢字', 9),
        (6, '', 1),
        (7, None, 2),
    ]
    df = spark.createDataFrame(rows, "id long, text string, n long")

    for export, read, sub in ((export_jsonl, read_jsonl, "j"),
                              (export_csv, read_csv, "c")):
        path = str(tmp_path / sub)
        export(df, path)
        back = read(spark, path, df.schema)
        got = sorted(back.collect())
        want = sorted(df.collect())
        if sub == "c":
            # CSV cannot distinguish NULL from empty string (both write as
            # an unquoted empty field) — the one documented lossy corner
            want = [tuple(None if v == "" else v for v in r) for r in want]
            got = [tuple(r) for r in got]
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """A lang-filter over a partitionBy(lang) layout must resolve to
    PartitionFilters on the scan (directory pruning — the filter never
    reads the other partitions' files), and the partition column must
    round-trip through the directory names."""
    rows = [(i, ["en", "fr", "de", "zh"][i % 4], f"t{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = str(tmp_path / "part")
    df.write.partitionBy("lang").parquet(out)

    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters")[1].split("]")[0]
    got = {(r["doc_id"], r["lang"]) for r in back.collect()}
    assert got == {(i, "en") for i in range(0, 40, 4)}
    # pushed filter must NOT appear as a data filter on the text columns
    assert back.count() == 10


def test_bucketed_join_plans_zero_exchange(spark, tmp_path):
    """Co-bucketed tables join with NO Exchange on either side (the whole
    point of the layout), while the identical join over plain parquet
    shuffles — both asserted on the executed plan with broadcast joins
    disabled. Results must match the plain-parquet join exactly."""
    from polipus_spark.operators.bucketing import read_bucketed, write_bucketed

    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"))
    right = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("b"))
    write_bucketed(left, "t_bkt_left", "k", 4, str(tmp_path / "l"))
    write_bucketed(right, "t_bkt_right", "k", 4, str(tmp_path / "r"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bl = read_bucketed(spark, "t_bkt_left")
        br = read_bucketed(spark, "t_bkt_right")
        j = bl.join(br, "k").groupBy("a").agg(F.sum("b").alias("sb"))
        j.collect()  # materialize so the ADAPTIVE final plan is inspectable
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # the groupBy's own exchange (on a) is fine; the join key must
        # never be shuffled — both bucketed scans feed the SMJ directly
        assert "Exchange hashpartitioning(k#" not in plan

        pj = left.join(right, "k").groupBy("a").agg(F.sum("b").alias("sb"))
        pj.collect()
        pplan = pj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(k#" in pplan

        got = {(r["a"], r["sb"]) for r in j.collect()}
        want = {(r["a"], r["sb"]) for r in pj.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tfidf_top_terms_hand_case(spark):
    """TF-IDF hand case: a term appearing in every doc scores 0 (idf
    floor-log delta = 0), a doc-unique term outranks it, tf multiplies,
    and the (score desc, token asc) tie-break is deterministic."""
    from polipus_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common zebra"),
         (3, "common apple banana")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): (r["token"], r["score"])
           for r in tfidf_top_terms(docs, k=2).collect()}
    # N=3: lg(3)=1584, lg(1)=0, lg(3)-lg(3)=0 for 'common'
    assert got[(1, 1)] == ("rare", 2 * 1584)
    assert got[(1, 2)] == ("common", 0)
    assert got[(2, 1)] == ("zebra", 1584)
    # doc 3: apple/banana tie at 1584 -> token asc breaks it
    assert got[(3, 1)] == ("apple", 1584)
    assert got[(3, 2)] == ("banana", 1584)


def test_balanced_sample_exact_floor_and_stability(spark):
    """Every stratum lands at exactly the min class count; the kept set
    for a class is stable when OTHER classes grow (md5-rank selection is
    within-class only); singleton-min edge works."""
    from polipus_spark.functions.sampling import balanced_sample

    rows = [(i, "big") for i in range(10)] + \
           [(100 + i, "mid") for i in range(5)] + \
           [(200, "rare"), (201, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, cls string")
    out = balanced_sample(df, "cls").collect()
    by_cls = {}
    for r in out:
        by_cls.setdefault(r["cls"], set()).add(r["doc_id"])
    assert {k: len(v) for k, v in by_cls.items()} == {
        "big": 2, "mid": 2, "rare": 2}

    # grow an unrelated class: the kept 'mid' set must not change
    df2 = spark.createDataFrame(
        rows + [(300 + i, "big") for i in range(10)],
        "doc_id long, cls string")
    out2 = balanced_sample(df2, "cls").collect()
    mid2 = {r["doc_id"] for r in out2 if r["cls"] == "mid"}
    assert mid2 == by_cls["mid"]


def test_epoch_allocation_exact_apportionment(spark):
    """Largest-remainder epoch planning: Σ alloc == total exactly, seats
    go to the largest remainders with the stratum-ascending tie-break,
    shortfall flags over-allocation, and non-10000 weights raise."""
    import pytest

    from polipus_spark.functions.sampling import epoch_allocation

    rows = ([(i, "en") for i in range(8)] + [(100 + i, "de") for i in range(3)]
            + [(200, "fr")])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # weights 50/30/20, total 7: base = (7*5000)//10000=3, (7*3000)//10000=2,
    # (7*2000)//10000=1 → Σ6, leftover 1; rems 5000/1000/4000 → en wins.
    out = {r["lang"]: (r["n_avail"], r["alloc_docs"], r["shortfall"])
           for r in epoch_allocation(
               df, "lang", {"en": 5000, "de": 3000, "fr": 2000}, total=7
           ).collect()}
    assert out == {"en": (8, 4, 0), "de": (3, 2, 0), "fr": (1, 1, 0)}
    assert sum(a for _, a, _ in out.values()) == 7

    # remainder TIE for the single leftover seat: total 2 at 60/20/20 →
    # bases 1,0,0, rems 2000/4000/4000 — de and fr tie at 4000 and the
    # seat goes to the lexicographically smaller stratum (de), never fr.
    out2 = {r["lang"]: r["alloc_docs"]
            for r in epoch_allocation(
                df, "lang", {"en": 6000, "de": 2000, "fr": 2000}, total=2
            ).collect()}
    assert out2 == {"en": 1, "de": 1, "fr": 0}

    # zero-remainder split with demand above availability → shortfall
    out3 = {r["lang"]: (r["alloc_docs"], r["shortfall"])
            for r in epoch_allocation(
                df, "lang", {"en": 5000, "de": 3000, "fr": 2000}, total=40
            ).collect()}
    assert out3 == {"en": (20, 12), "de": (12, 9), "fr": (8, 7)}

    with pytest.raises(ValueError):
        epoch_allocation(df, "lang", {"en": 5000, "de": 4000}, total=5)


def test_epoch_allocation_missing_and_zero_weight_strata(spark):
    """Σ alloc == total even when a WEIGHTED stratum has zero rows (r5
    advisor: its base/remainder silently vanished, inflating the
    leftover), and strata with weight 0 (present in df but absent from
    weights_bps) never win leftover seats."""
    from polipus_spark.functions.sampling import epoch_allocation, epoch_take

    rows = ([(i, "en") for i in range(8)] + [(100 + i, "und") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # fr is weighted 40% but has NO rows: its base/remainder must still
    # enter the apportionment (alloc 4, shortfall 4), and the zero-weight
    # 'und' stratum must get exactly 0.
    out = {r["lang"]: (r["n_avail"], r["alloc_docs"], r["shortfall"])
           for r in epoch_allocation(
               df, "lang", {"en": 6000, "fr": 4000}, total=9
           ).collect()}
    assert sum(a for _, a, _ in out.values()) == 9
    assert out["fr"] == (0, 4, 4)
    assert out["und"] == (4, 0, 0)
    assert out["en"] == (8, 5, 0)
    # epoch_take inherits: takes min(alloc, avail) per stratum
    taken = epoch_take(df, "lang", {"en": 6000, "fr": 4000}, total=9)
    got = {r["lang"] for r in taken.collect()}
    assert got == {"en"} and taken.count() == 5


def test_grouped_quantiles_constant_column(spark):
    """hi == lo (constant value column) must not NaN the bin math (r5
    advisor): every quantile collapses to the constant, no null bins."""
    from polipus_spark.functions.sketches import quantiles_by

    df = spark.createDataFrame([(i % 3, 7.0) for i in range(30)],
                               "g long, v double")
    out = quantiles_by(df, F.col("g"), F.col("v"),
                       q_bps=[2500, 5000, 9900]).collect()
    assert out, "must emit rows"
    assert all(r["est_value_x4"] is not None for r in out)
    assert all(r["est_value_x4"] == 70000 for r in out)  # 7.0 * SCALE
    assert all(r["bin_idx"] == 0 for r in out)


def test_epoch_allocation_quota_property_randomized(spark):
    """Seeded randomized sweep: for random bps weight splits and totals,
    Hamilton apportionment satisfies (a) Σ alloc == total exactly and
    (b) the quota property — every stratum's allocation is floor(quota)
    or floor(quota)+1 where quota = total·w/10000 (largest-remainder
    never strays a full seat from proportionality)."""
    import random

    from polipus_spark.functions.sampling import epoch_allocation

    rng = random.Random(20260818)
    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i % len(langs)]) for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    for _ in range(6):
        cuts = sorted(rng.sample(range(1, 10_000), len(langs) - 1))
        bounds = [0, *cuts, 10_000]
        weights = {
            lang: bounds[i + 1] - bounds[i] for i, lang in enumerate(langs)
        }
        total = rng.randrange(1, 5_000)
        out = epoch_allocation(df, "lang", weights, total).collect()
        assert sum(r["alloc_docs"] for r in out) == total
        for r in out:
            q_floor = (total * weights[r["lang"]]) // 10_000
            assert r["alloc_docs"] in (q_floor, q_floor + 1), (
                weights, total, r["lang"], r["alloc_docs"])


def test_hamming_near_pairs_matches_bruteforce_sweep(spark):
    """Randomized (seeded) equivalence sweep for the pigeonhole banding
    behind SimHash text near-dup: banded join results == exhaustive O(n²)
    pair enumeration for narrow (12, 15-bit) and wide (60-bit)
    fingerprints — banding must be a pure candidate prefilter, never a
    semantics change."""
    import random

    from polipus_spark.functions.dedup import hamming_near_pairs

    rng = random.Random(20260818)
    for n_bits, k in [(12, 1), (15, 1), (60, 3)]:
        rows = [(i, rng.getrandbits(n_bits)) for i in range(200)]
        # force some near pairs: clones of row 0 with 0..k bits flipped
        base = rows[0][1]
        for j in range(1, k + 2):
            flipped = base
            for b in rng.sample(range(n_bits), j - 1):
                flipped ^= 1 << b
            rows.append((1000 + j, flipped))
        sigs = spark.createDataFrame(rows, "id long, sh long")
        got = {(r["id_a"], r["id_b"], r["hamming"])
               for r in hamming_near_pairs(sigs, n_bits=n_bits, k=k).collect()}
        want = set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                (ia, ha), (ib, hb) = rows[i], rows[j]
                if ia > ib:
                    ia, ib, ha, hb = ib, ia, hb, ha
                d = bin(ha ^ hb).count("1")
                if d <= k:
                    want.add((ia, ib, d))
        assert got == want, (n_bits, k)


def test_cross_containment_decontamination(spark):
    """A benchmark item quoted whole inside a LONG training doc is flagged
    (containment vs the benchmark size ~1 where Jaccard would dilute);
    a lightly-edited quote still clears 60%; an unrelated doc does not."""
    from polipus_spark.functions.dedup import cross_containment

    bench_text = "the quick brown fox jumps over the lazy dog today"
    long_doc = ("filler words here and there all around " * 5) + bench_text
    edited = bench_text.replace("lazy", "sleepy")  # one word changed
    corpus = spark.createDataFrame(
        [(1, long_doc), (2, "completely unrelated content about spark"),
         (3, edited)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string")

    got = {(r["doc_id"], r["bench_id"]): r["cont_bps"]
           for r in cross_containment(corpus, bench,
                                      min_cont_bps=6000).collect()}
    assert got[(1, 100)] == 10000          # whole quote: containment 1.0
    assert 6000 <= got[(3, 100)] < 10000   # edited: most shingles survive
    assert (2, 100) not in got
