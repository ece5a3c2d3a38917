"""URL-seen trackers (SURVEY J1-J4, reference lib/polipus/url_tracker*).

The reference keeps one Redis Bloom filter (default, 1e6 capacity / 1% FPR,
url_tracker.rb:6-10) or an exact Redis SET (url_tracker/redis_set.rb), probed
before enqueue (lib/polipus.rb:389-390) and inserted at **enqueue time**
(lib/polipus.rb:429-435).

Spark re-expression — three interchangeable modes:

  * ``ExactTracker`` — the behavioral oracle (J4): an append-only (key, op)
    log table; seen(key) ⇔ latest op is 'add'. Probe = ``left_anti`` join.
    Supports remove (tombstone append). At 10^10 keys this is a bucketed
    equi-join on the key — shuffle-heavy but exact.
  * ``BloomTracker`` — the scale path (J1/J2): the key space is split over
    ``n_buckets`` partitions; each partition owns an independent Bloom
    bitmap stored as one ``binary`` row in a snapshot table. The two 60-bit
    hash seeds (h1, h2: double hashing, Kirsch-Mitzenmacher) are computed
    **JVM-side** from md5. The probe is pure Column code: each candidate
    row joins its bucket's newest bitmap (``n_buckets`` rows, broadcast by
    the planner) and tests its k bits with ``substr``/``getbit``, so the
    candidates are read once and no Python stage runs. The insert is a
    ``cogroup(...).applyInPandas`` pass: keys grouped by bucket meet their
    partition's bitmap and numpy ORs the bits in over Arrow batches.
  * ``CuckooTracker`` — deletable fallback (J3): the reference Bloom exposes
    ``remove`` (bloomfilter.rb:18-20, backed by a Redis driver); a plain
    Bloom cannot delete, so deletable mode uses a 16-bit-fingerprint,
    4-way cuckoo filter per bucket.

Keys are tracker keys, i.e. the URL with the query string stripped when
``include_query_string_in_saved_page=false`` (lib/polipus.rb:432-433) —
normalization happens in the caller.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polipus_spark.catalog import SnapshotCatalog, SnapshotTable, V_COL
from polipus_spark.functions.urls import h60


_U64_DEC = "decimal(24,0)"  # holds h1//b + i·h2 < 2^60·(k+1) for k ≤ 2^19


def _with_hashes(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """JVM-side double-hash seeds: h1, h2 from md5; bucket = h1 % n_buckets."""
    md5 = F.md5(F.col(key_col))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5, 16, 15), 16, 10).cast("bigint")
    return (
        df.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .withColumn("_bucket", F.pmod(h1, F.lit(n_buckets)).cast("int"))
    )


class ExactTracker:
    """J4 — exact URL-seen set; the parity oracle for crawl comparisons."""

    def __init__(self, catalog: SnapshotCatalog, name: str = "url_seen_exact"):
        self.table: SnapshotTable = catalog.table(name)

    def _current(self) -> DataFrame | None:
        if not self.table.exists():
            return None
        # Incremental MoR probe (r5 review #7): resolve against the last
        # COMPACTED snapshot (already one live `add` row per key, by
        # compact()'s construction) plus a window over only the
        # since-compaction delta, instead of re-windowing the full
        # add/remove log every wave. Keys present in the delta override
        # the base (their delta rows carry strictly larger _v); keys only
        # in the base pass through untouched — value-identical to the
        # full-log window.
        snaps = self.table._manifest()["snapshots"]
        base = None
        for s in snaps:
            if s.get("op") == "compact":
                base = s
        if base is None:
            return (
                self.table.read_latest_by(["key"])
                .where(F.col("op") == "add")
                .select("key")
            )
        base_keys = (
            self.table.read(as_of=base["version"],
                            since_version=base["version"] - 1)
            .where(F.col("op") == "add")
            .select("key")
        )
        if not any(s["version"] > base["version"] for s in snaps):
            return base_keys  # no delta: the base IS the current set
        delta = self.table.read(since_version=base["version"])
        w = Window.partitionBy("key").orderBy(F.col(V_COL).desc())
        delta_latest = (
            delta.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
        )
        return (
            delta_latest.where(F.col("op") == "add").select("key")
            .unionByName(
                base_keys.join(delta.select("key").distinct(), "key",
                               "left_anti")
            )
        )

    def filter_unseen(self, df: DataFrame, key_col: str) -> DataFrame:
        cur = self._current()
        if cur is None:
            return df
        return df.join(cur, df[key_col] == cur["key"], "left_anti")

    def probe(self, df: DataFrame, key_col: str) -> DataFrame:
        """df + boolean ``_seen`` column (exact membership via left join)."""
        cur = self._current()
        if cur is None:
            return df.withColumn("_seen", F.lit(False))
        marked = cur.withColumn("_seen_hit", F.lit(True))
        out = df.join(marked, df[key_col] == marked["key"], "left").drop("key")
        return out.withColumn("_seen", F.coalesce(F.col("_seen_hit"), F.lit(False))).drop(
            "_seen_hit"
        )

    def mark_seen(self, df: DataFrame, key_col: str, wave: int | None = None) -> None:
        keys = df.select(F.col(key_col).alias("key")).distinct().withColumn("op", F.lit("add"))
        self.table.append(keys, op="tracker_add", wave=wave)

    def remove(self, spark: SparkSession, keys: Iterable[str]) -> None:
        rows = [(k, "remove") for k in keys]
        self.table.append(
            spark.createDataFrame(rows, "key string, op string"), op="tracker_remove"
        )

    def visit(self, spark: SparkSession, url: str) -> None:
        self.mark_seen(spark.createDataFrame([(url,)], "key string"), "key")

    def is_visited(self, spark: SparkSession, url: str) -> bool:
        cur = self._current()
        if cur is None:
            return False
        return cur.where(F.col("key") == url).limit(1).count() > 0

    def seen_keys(self) -> set[str]:
        cur = self._current()
        return set() if cur is None else {r["key"] for r in cur.collect()}

    def compact(self, wave: int | None = None) -> None:
        """Collapse the add/remove log to one snapshot of live keys.
        Tombstoned (removed) keys drop out entirely — equivalent to never
        seen, which is exactly ``remove``'s re-crawl semantics."""
        if not self.table.exists():
            return
        live = (
            self.table.read_latest_by(["key"])
            .where(F.col("op") == "add")
            .select("key", "op")
        )
        self.table.overwrite(live, op="compact", wave=wave)

    def clear(self) -> None:
        self.table.truncate()


def _bloom_positions(
    h1: np.ndarray, h2: np.ndarray, n_buckets: int, m_bucket: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(byte_idx, bit_mask) arrays of shape (n_keys, k), uint64 math.

    Module-level (not a method) so pandas-UDF closures capture only plain
    ints — capturing the tracker would drag the SparkSession into the pickle.
    """
    h1d = h1.astype(np.uint64) // np.uint64(n_buckets)
    ks = np.arange(k, dtype=np.uint64)[None, :]
    pos = (h1d[:, None] + ks * h2.astype(np.uint64)[:, None]) % np.uint64(m_bucket)
    return (pos >> np.uint64(3)).astype(np.int64), (
        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    )


def _newest_bitmap(right: pd.DataFrame, n_bytes: int) -> np.ndarray:
    if len(right) == 0:
        return np.zeros(n_bytes, dtype=np.uint8)
    newest = right.loc[right[V_COL].idxmax()]
    return np.frombuffer(bytes(newest["bitmap"]), dtype=np.uint8).copy()


class BloomTracker:
    """J1/J2 — per-partition Bloom bitmaps: Column-expression probe,
    cogroup insert with numpy bit math.

    Sizing (standard Bloom math): m = ceil(-n·ln p / ln²2) total bits split
    evenly over n_buckets (each bucket is an independent filter over its
    hash-share of keys), k = round(m/n·ln2) probes via double hashing
    pos_i = ((h1//b + i·h2) mod 2^64) mod m_bucket — uint64 numpy on insert,
    the same wrap in decimal on probe.
    Defaults mirror the reference: capacity 1e6, FPR 0.01
    (url_tracker.rb:6-7).
    """

    def __init__(
        self,
        catalog: SnapshotCatalog,
        capacity: int = 1_000_000,
        error_rate: float = 0.01,
        n_buckets: int = 32,
        name: str = "url_seen_bloom",
    ):
        self.table = catalog.table(name)
        self.n_buckets = n_buckets
        m_total = max(64, int(math.ceil(-capacity * math.log(error_rate) / (math.log(2) ** 2))))
        m_bucket = int(math.ceil(m_total / n_buckets / 8.0)) * 8  # byte-aligned
        self.m_bucket = m_bucket
        self.k = max(1, round(m_total / capacity * math.log(2)))

    def _current_bitmaps(self) -> DataFrame:
        if self.table.exists():
            return self.table.read_latest_by(["bucket"])
        schema = f"bucket int, bitmap binary, {V_COL} int"
        return self.table.spark.createDataFrame([], schema)

    # -- dataflow API ----------------------------------------------------------
    def probe(self, df: DataFrame, key_col: str) -> DataFrame:
        """Return df + boolean ``_seen`` column (Bloom membership).

        Each row joins its bucket's newest bitmap (``n_buckets`` rows, so the
        planner broadcasts it) and tests its k bits as Column expressions.
        The positions replay ``_bloom_positions``' uint64 arithmetic in
        decimal — ``i·h2`` passes 2^64 once k > 16, where BIGINT would raise
        under ANSI — so the verdicts equal the numpy insert path's bits.
        """
        if not self.table.exists():
            return df.withColumn("_seen", F.lit(False))
        bitmaps = self._current_bitmaps().select(
            F.col("bucket").alias("_bm_bucket"), F.col("bitmap").alias("_bm")
        )
        hashed = _with_hashes(df, key_col, self.n_buckets)
        base = F.expr(f"_h1 div {self.n_buckets}").cast(_U64_DEC)
        step = F.col("_h2").cast(_U64_DEC)
        two_64 = F.lit(Decimal(2**64)).cast(_U64_DEC)
        seen = F.col("_bm").isNotNull()
        for i in range(self.k):
            pos = (F.pmod(base + step * i, two_64) % self.m_bucket).cast("bigint")
            byte = F.substr(F.col("_bm"), F.shiftright(pos, 3) + 1, F.lit(1))
            byte = F.conv(F.hex(byte), 16, 10)
            seen = seen & (F.getbit(byte.cast("int"), pos.bitwiseAND(7)) == 1)
        out = hashed.join(bitmaps, F.col("_bucket") == F.col("_bm_bucket"), "left")
        return out.withColumn("_seen", F.coalesce(seen, F.lit(False))).drop(
            "_h1", "_h2", "_bucket", "_bm_bucket", "_bm"
        )

    def filter_unseen(self, df: DataFrame, key_col: str) -> DataFrame:
        return self.probe(df, key_col).where(~F.col("_seen")).drop("_seen")

    def mark_seen(self, df: DataFrame, key_col: str, wave: int | None = None) -> None:
        """OR the keys' bits into each bucket's bitmap; commit new snapshots."""
        keys = _with_hashes(
            df.select(F.col(key_col).alias("key")).distinct(), "key", self.n_buckets
        )
        bitmaps = self._current_bitmaps()
        n_buckets, m_bucket, k = self.n_buckets, self.m_bucket, self.k

        def _insert(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:  # nothing new for this bucket — keep old snapshot
                return pd.DataFrame({"bucket": [], "bitmap": []})
            bm = _newest_bitmap(right, m_bucket // 8)
            byte_idx, masks = _bloom_positions(
                left["_h1"].to_numpy(), left["_h2"].to_numpy(), n_buckets, m_bucket, k
            )
            np.bitwise_or.at(bm, byte_idx.ravel(), masks.ravel())
            bucket = int(left["_bucket"].iloc[0])
            return pd.DataFrame({"bucket": [bucket], "bitmap": [bm.tobytes()]})

        updated = (
            keys.groupby("_bucket")
            .cogroup(bitmaps.groupby("bucket"))
            .applyInPandas(_insert, "bucket int, bitmap binary")
        )
        self.table.append(updated, op="bloom_or", wave=wave)

    # -- scalar conveniences (spec-port tests) ---------------------------------
    def visit(self, spark: SparkSession, url: str) -> None:
        self.mark_seen(spark.createDataFrame([(url,)], "key string"), "key")

    def is_visited(self, spark: SparkSession, url: str) -> bool:
        df = spark.createDataFrame([(url,)], "key string")
        return self.probe(df, "key").collect()[0]["_seen"]

    def compact(self, wave: int | None = None) -> None:
        """One snapshot with the newest bitmap per bucket (≤ n_buckets rows)."""
        self.table.compact(["bucket"], wave=wave)

    def clear(self) -> None:
        self.table.truncate()


class CuckooFilter:
    """Numpy cuckoo filter: 16-bit fingerprints, 4-way buckets, deletable."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        if table is not None:
            self.table = table
            self.n_rows = table.shape[0]
        else:
            n_rows = 1
            while n_rows * self.SLOTS < capacity * 1.25:
                n_rows <<= 1
            self.n_rows = n_rows
            self.table = np.zeros((n_rows, self.SLOTS), dtype=np.uint16)

    @staticmethod
    def _fp_and_index(h1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        fp = (h1 % np.uint64(65535)).astype(np.uint16) + np.uint16(1)  # 0 = empty
        i1 = (h1 >> np.uint64(16))
        return fp, i1

    def _alt_index(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # i2 = i1 XOR hash(fp); cheap integer mix, power-of-two table
        mix = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return (i.astype(np.uint64) ^ mix) % np.uint64(self.n_rows)

    def contains(self, h1: np.ndarray) -> np.ndarray:
        fp, i1 = self._fp_and_index(h1.astype(np.uint64))
        i1 = i1 % np.uint64(self.n_rows)
        i2 = self._alt_index(i1, fp)
        in1 = (self.table[i1.astype(np.int64)] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2.astype(np.int64)] == fp[:, None]).any(axis=1)
        return in1 | in2

    def insert(self, h1: np.ndarray) -> None:
        fps, i1s = self._fp_and_index(h1.astype(np.uint64))
        i1s = i1s % np.uint64(self.n_rows)
        for fp, i1 in zip(fps.tolist(), i1s.tolist()):
            self._insert_one(np.uint16(fp), int(i1))

    def _insert_one(self, fp: np.uint16, i1: int) -> None:
        i2 = int(self._alt_index(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            row = self.table[i]
            if (row == fp).any():
                return
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # kick loop
        i = i1
        rng = np.random.default_rng(int(fp))  # deterministic eviction choice
        for _ in range(self.MAX_KICKS):
            slot = int(rng.integers(self.SLOTS))
            fp, self.table[i, slot] = self.table[i, slot], fp
            i = int(self._alt_index(np.array([i]), np.array([fp], dtype=np.uint16))[0])
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        raise RuntimeError("cuckoo filter full")

    def delete(self, h1: np.ndarray) -> None:
        fps, i1s = self._fp_and_index(h1.astype(np.uint64))
        i1s = i1s % np.uint64(self.n_rows)
        for fp, i1 in zip(fps, i1s.tolist()):
            i2 = int(self._alt_index(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
            for i in (int(i1), i2):
                row = self.table[i]
                hit = np.where(row == fp)[0]
                if len(hit):
                    row[hit[0]] = 0
                    break

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, capacity: int) -> "CuckooFilter":
        arr = np.frombuffer(data, dtype=np.uint16).copy()
        return cls(capacity, table=arr.reshape(-1, cls.SLOTS))


class CuckooTracker:
    """J3 — deletable URL-seen tracker (per-bucket cuckoo filters)."""

    def __init__(
        self,
        catalog: SnapshotCatalog,
        capacity: int = 1_000_000,
        n_buckets: int = 32,
        name: str = "url_seen_cuckoo",
    ):
        self.table = catalog.table(name)
        self.n_buckets = n_buckets
        self.cap_bucket = max(1024, capacity // n_buckets)

    def _current_bitmaps(self) -> DataFrame:
        if self.table.exists():
            return self.table.read_latest_by(["bucket"])
        return self.table.spark.createDataFrame([], f"bucket int, bitmap binary, {V_COL} int")

    def _apply(self, df: DataFrame, key_col: str, mode: str) -> DataFrame:
        keys = _with_hashes(
            df.select(F.col(key_col).alias("key")).distinct(), "key", self.n_buckets
        )
        bitmaps = self._current_bitmaps()
        cap_bucket = self.cap_bucket

        def _fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(right) > 0:
                newest = right.loc[right[V_COL].idxmax()]
                cf = CuckooFilter.from_bytes(bytes(newest["bitmap"]), cap_bucket)
            else:
                cf = CuckooFilter(cap_bucket)
            if mode == "probe":
                if len(left) == 0:
                    return pd.DataFrame({"key": [], "_seen": []})
                seen = cf.contains(left["_h1"].to_numpy().astype(np.uint64))
                return pd.DataFrame({"key": left["key"], "_seen": seen})
            if len(left) == 0:  # unchanged bucket — keep old snapshot
                return pd.DataFrame({"bucket": [], "bitmap": []})
            h1 = left["_h1"].to_numpy().astype(np.uint64)
            if mode == "insert":
                cf.insert(h1)
            else:
                cf.delete(h1)
            bucket = int(left["_bucket"].iloc[0])
            return pd.DataFrame({"bucket": [bucket], "bitmap": [cf.to_bytes()]})

        schema = "key string, _seen boolean" if mode == "probe" else "bucket int, bitmap binary"
        return (
            keys.groupby("_bucket").cogroup(bitmaps.groupby("bucket")).applyInPandas(_fn, schema)
        )

    def probe(self, df: DataFrame, key_col: str) -> DataFrame:
        seen = self._apply(df, key_col, "probe")
        out = df.join(seen, df[key_col] == seen["key"], "left").drop("key")
        return out.withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))

    def filter_unseen(self, df: DataFrame, key_col: str) -> DataFrame:
        return self.probe(df, key_col).where(~F.col("_seen")).drop("_seen")

    def mark_seen(self, df: DataFrame, key_col: str, wave: int | None = None) -> None:
        self.table.append(self._apply(df, key_col, "insert"), op="cuckoo_insert", wave=wave)

    def mark_seen_wave(self, df: DataFrame, key_col: str, wave: int | None = None) -> None:
        self.mark_seen(df, key_col, wave=wave)

    def remove_df(self, df: DataFrame, key_col: str) -> None:
        self.table.append(self._apply(df, key_col, "delete"), op="cuckoo_delete")

    def visit(self, spark: SparkSession, url: str) -> None:
        self.mark_seen(spark.createDataFrame([(url,)], "key string"), "key")

    def remove(self, spark: SparkSession, url: str) -> None:
        self.remove_df(spark.createDataFrame([(url,)], "key string"), "key")

    def is_visited(self, spark: SparkSession, url: str) -> bool:
        df = spark.createDataFrame([(url,)], "key string")
        return self.probe(df, "key").collect()[0]["_seen"]

    def compact(self, wave: int | None = None) -> None:
        """One snapshot with the newest bitmap per bucket (≤ n_buckets rows)."""
        self.table.compact(["bucket"], wave=wave)

    def clear(self) -> None:
        self.table.truncate()


def make_tracker(catalog: SnapshotCatalog, mode: str, **kw):
    """url_tracker.rb:4-19 factory equivalent."""
    if mode == "exact":
        return ExactTracker(catalog)
    if mode == "bloom":
        return BloomTracker(catalog, **kw)
    if mode == "cuckoo":
        return CuckooTracker(catalog, **kw)
    raise ValueError(f"unknown tracker mode {mode!r}")
