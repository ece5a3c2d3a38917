"""J1-J4 — url_tracker_spec.rb ports for both tracker modes, plus the
Bloom FPR bound, its chunk-row storage and exact-tracker remove semantics."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from polipus_spark.catalog import SnapshotCatalog
from polipus_spark.operators.tracker import BloomTracker, ExactTracker, make_tracker

URL = "http://www.asd.com/"
OTHER = "http://www.google.com/"
CHUNK_BYTES = 4096  # one Bloom chunk row: 32,768 bits


def _hashes(key):
    hx = hashlib.md5(key.encode()).hexdigest()
    return int(hx[:15], 16), int(hx[15:30], 16)


def _bloom_positions(h1, h2, n_buckets, m_bucket, k):
    """Independent numpy oracle of the Bloom bit layout: (byte_idx,
    bit_mask) arrays of shape (n_keys, k) into a bucket's whole bitmap,
    pos_i = ((h1//b + i·h2) mod 2^64) mod m_bucket in uint64."""
    h1d = h1.astype(np.uint64) // np.uint64(n_buckets)
    ks = np.arange(k, dtype=np.uint64)[None, :]
    pos = (h1d[:, None] + ks * h2.astype(np.uint64)[:, None]) % np.uint64(m_bucket)
    return (pos >> np.uint64(3)).astype(np.int64), (
        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    )


def _bucket_bitmaps(t):
    """{bucket: whole bitmap bytes}, assembled from the OR'ed chunk rows."""
    n_chunks = -(-t.m_bucket // (8 * CHUNK_BYTES))
    out = {}
    for r in t._chunks().collect():
        bm = out.setdefault(r["bucket"], bytearray(n_chunks * CHUNK_BYTES))
        start = r["chunk"] * CHUNK_BYTES
        bm[start:start + CHUNK_BYTES] = bytes(r["bits"])
    return {b: bytes(bm[:t.m_bucket // 8]) for b, bm in out.items()}


@pytest.mark.parametrize("mode", ["exact", "bloom"])
def test_visit_then_visited(spark, work_dir, mode):
    """url_tracker_spec.rb:16-28: visit → visited? true; unseen → false."""
    cat = SnapshotCatalog(spark, work_dir)
    kw = {"capacity": 10_000, "n_buckets": 4, "error_rate": 0.01} if mode == "bloom" else {}
    t = make_tracker(cat, mode, **kw)
    assert not t.is_visited(spark, URL)
    t.visit(spark, URL)
    assert t.is_visited(spark, URL)
    assert not t.is_visited(spark, OTHER)


def test_exact_remove(spark, work_dir):
    cat = SnapshotCatalog(spark, work_dir)
    t = ExactTracker(cat)
    t.visit(spark, URL)
    t.remove(spark, [URL])
    assert not t.is_visited(spark, URL)
    t.visit(spark, URL)  # re-add after remove works
    assert t.is_visited(spark, URL)


def test_bloom_no_false_negatives_and_fpr_bound(spark, work_dir):
    """All inserted keys must probe true; FPR on fresh keys ≤ ~3× nominal."""
    cat = SnapshotCatalog(spark, work_dir)
    t = BloomTracker(cat, capacity=5_000, error_rate=0.01, n_buckets=4)
    ins = spark.createDataFrame([(f"http://h{i % 13}.com/p/{i}",) for i in range(3000)],
                                "key string")
    t.mark_seen(ins, "key")
    probe_in = t.probe(ins, "key")
    assert probe_in.where(~F.col("_seen")).count() == 0  # no false negatives
    fresh = spark.createDataFrame([(f"http://fresh{i}.org/x/{i}",) for i in range(3000)],
                                  "key string")
    fp = t.probe(fresh, "key").where(F.col("_seen")).count()
    assert fp / 3000 <= 0.03


def test_tracker_batch_filter_unseen(spark, work_dir):
    cat = SnapshotCatalog(spark, work_dir)
    t = ExactTracker(cat)
    batch1 = spark.createDataFrame([(f"u{i}",) for i in range(50)], "key string")
    t.mark_seen(batch1, "key")
    batch2 = spark.createDataFrame([(f"u{i}",) for i in range(30, 80)], "key string")
    out = t.filter_unseen(batch2, "key")
    assert sorted(r["key"] for r in out.collect()) == sorted(f"u{i}" for i in range(50, 80))


def test_clear(spark, work_dir):
    cat = SnapshotCatalog(spark, work_dir)
    t = ExactTracker(cat)
    t.visit(spark, URL)
    t.clear()
    assert not t.is_visited(spark, URL)


def test_exact_incremental_probe_after_compaction(spark, work_dir):
    """The exact tracker's resolved view must be computed from the last
    compacted snapshot plus the since-compaction DELTA only (r5 review
    #7) — not a window over the full log — and must stay value-identical
    through adds, removes, compaction, re-adds, and post-compaction
    removes."""
    cat = SnapshotCatalog(spark, work_dir)
    t = ExactTracker(cat)
    mk = lambda urls: spark.createDataFrame([(u,) for u in urls], "key string")  # noqa: E731
    t.mark_seen(mk(["a", "b", "c"]), "key")
    t.remove(spark, ["b"])
    t.compact()

    # no delta after the base: the probe plan is a direct base read — no
    # MoR window at all
    plan = t._current()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert t.seen_keys() == {"a", "c"}

    # delta: re-add the removed key, remove a compacted key, add a new one
    t.mark_seen(mk(["b", "d"]), "key")
    t.remove(spark, ["a"])
    cur = t._current()
    plan = cur._jdf.queryExecution().executedPlan().toString()
    # exactly ONE MoR window — over the delta, not the full log
    assert plan.count("RunningWindowFunction") <= 1
    assert t.seen_keys() == {"b", "c", "d"}
    urls = spark.createDataFrame([(u,) for u in ["a", "b", "c", "d", "e"]],
                                 "url string")
    probe = t.probe(urls, "url")
    got = {r["url"]: r["_seen"] for r in probe.collect()}
    assert got == {"a": False, "b": True, "c": True, "d": True, "e": False}

    # second compaction folds the delta in; probe again windowless
    t.compact()
    plan = t._current()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert t.seen_keys() == {"b", "c", "d"}


@pytest.mark.parametrize(
    "capacity,error_rate,n_buckets,k",
    [(200_000, 1e-7, 8, 23), (1_000_000, 0.01, 32, 7)],
)
def test_bloom_probe_matches_numpy_positions(spark, work_dir, capacity,
                                             error_rate, n_buckets, k):
    """JVM probe verdicts ≡ numpy ``_bloom_positions`` verdicts on the same
    committed bitmaps: marked keys, unmarked keys (some of them false
    positives, from one deliberately dense bucket) and a bucket with no
    bitmap row. At k = 23, i·h2 passes 2^64 and the positions wrap."""
    t = BloomTracker(SnapshotCatalog(spark, work_dir), capacity=capacity,
                     error_rate=error_rate, n_buckets=n_buckets)
    assert t.k == k
    keys = [f"http://h{i % 17}.example/p/{i}?q={i % 5}" for i in range(6000)]
    h1, h2 = np.array([_hashes(u) for u in keys], dtype=np.int64).T
    bucket = h1 % n_buckets
    empty_bucket, dense_bucket = 0, 1
    marked = [u for i, (u, b) in enumerate(zip(keys, bucket))
              if b != empty_bucket and i % 3 == 0]
    t.mark_seen(spark.createDataFrame([(u,) for u in marked], "key string"), "key")
    # OR dense random bits into one bucket so unmarked keys hit false positives
    current = _bucket_bitmaps(t)
    density = 0.5 ** (1.0 / k)  # P(false positive) = density^k = 1/2
    rng = np.random.default_rng(7)
    noise = np.packbits(rng.random(t.m_bucket) < density, bitorder="little")
    noise_rows = [(dense_bucket, c, noise[c * CHUNK_BYTES:(c + 1) * CHUNK_BYTES].tobytes()
                   .ljust(CHUNK_BYTES, b"\0"))
                  for c in range(-(-len(noise) // CHUNK_BYTES))]
    t.table.append(spark.createDataFrame(noise_rows, "bucket int, chunk bigint, bits binary"),
                   op="bloom_or")
    current[dense_bucket] = (np.frombuffer(current[dense_bucket], dtype=np.uint8)
                             | noise).tobytes()
    assert _bucket_bitmaps(t) == current
    assert empty_bucket not in current

    got = {r["key"]: r["_seen"] for r in t.probe(
        spark.createDataFrame([(u,) for u in keys], "key string"), "key").collect()}

    byte_idx, masks = _bloom_positions(h1, h2, n_buckets, t.m_bucket, k)
    want = {}
    for j, u in enumerate(keys):
        bm = current.get(int(bucket[j]))
        bits = None if bm is None else np.frombuffer(bm, dtype=np.uint8)[byte_idx[j]]
        want[u] = bits is not None and bool(np.all((bits & masks[j]) == masks[j]))
    assert got == want
    marked_set = set(marked)
    assert all(want[u] for u in marked)
    unmarked = [want[u] for u in keys if u not in marked_set]
    assert any(unmarked) and not all(unmarked)  # false positives and misses
    assert not any(want[u] for u, b in zip(keys, bucket) if b == empty_bucket)
    wraps = (h1 // n_buckets).astype(object) + (k - 1) * h2.astype(object) >= 2**64
    assert wraps.any() == (k == 23)


def test_bloom_chunk_marks_compact_to_the_union(spark, work_dir):
    """Three marks with a compaction between the second and the third give
    the same verdicts (false positives included) as one mark of their
    union; the last compaction leaves one snapshot."""
    kw = dict(capacity=300, error_rate=0.05, n_buckets=2)
    keys = [f"http://h{i % 7}.example/p/{i}" for i in range(900)]
    batches = [keys[0:100], keys[100:200], keys[200:300]]
    mk = lambda urls: spark.createDataFrame([(u,) for u in urls], "key string")  # noqa: E731
    split = BloomTracker(SnapshotCatalog(spark, f"{work_dir}/split"), **kw)
    union = BloomTracker(SnapshotCatalog(spark, f"{work_dir}/union"), **kw)
    split.mark_seen(mk(batches[0]), "key")
    split.mark_seen(mk(batches[1]), "key")
    split.compact()
    split.mark_seen(mk(batches[2]), "key")
    union.mark_seen(mk(keys[:300]), "key")

    def verdicts(t):
        return {r["key"]: r["_seen"] for r in t.probe(mk(keys), "key").collect()}

    want = verdicts(union)
    assert all(want[u] for u in keys[:300])
    assert any(want[u] for u in keys[300:])  # the comparison covers false positives
    assert verdicts(split) == want
    split.compact()
    assert len(split.table.lineage()) == 1
    assert verdicts(split) == want
    assert _bucket_bitmaps(split) == _bucket_bitmaps(union)


def test_bloom_mark_appends_only_touched_chunks(spark, work_dir):
    t = BloomTracker(SnapshotCatalog(spark, work_dir), capacity=200_000,
                     error_rate=1e-7, n_buckets=8)
    assert t.m_bucket // 8 > 20 * CHUNK_BYTES  # every bucket spans many chunks
    t.visit(spark, URL)
    assert 0 < t.table.read().count() <= t.k


def test_bloom_missing_chunk_reads_unseen(spark, work_dir):
    """A key whose chunks have no row, in a bucket that holds other chunks,
    reads unseen without error."""
    t = BloomTracker(SnapshotCatalog(spark, work_dir), capacity=200_000,
                     error_rate=0.01, n_buckets=1)

    def chunks(u):
        h1, h2 = np.array([_hashes(u)], dtype=np.int64).T
        byte_idx, _ = _bloom_positions(h1, h2, 1, t.m_bucket, t.k)
        return {int(b) // CHUNK_BYTES for b in byte_idx[0]}

    t.visit(spark, URL)
    marked = chunks(URL)
    assert {r["chunk"] for r in t.table.read().collect()} == marked
    other = next(u for u in (f"http://x.example/{i}" for i in range(1000))
                 if not chunks(u) & marked)
    assert t.is_visited(spark, URL)
    assert not t.is_visited(spark, other)
