"""URL-seen trackers (SURVEY J1-J4, reference lib/polipus/url_tracker*).

The reference keeps one Redis Bloom filter (default, 1e6 capacity / 1% FPR,
url_tracker.rb:6-10) or an exact Redis SET (url_tracker/redis_set.rb), probed
before enqueue (lib/polipus.rb:389-390) and inserted at **enqueue time**
(lib/polipus.rb:429-435).

Spark re-expression — two interchangeable modes with one contract (``probe``,
``mark_seen``, ``compact``, ``clear`` and a ``table``):

  * ``ExactTracker`` — the behavioral oracle (J4): an append-only (key, op)
    log table; seen(key) ⇔ latest op is 'add'. Probe = ``left_anti`` join.
    Supports remove (tombstone append), which covers the reference's
    ``remove`` (J3, bloomfilter.rb:18-20). At 10^10 keys this is a bucketed
    equi-join on the key — shuffle-heavy but exact.
  * ``BloomTracker`` — the scale path (J1/J2): the key space is split over
    ``n_buckets`` partitions; each partition owns an independent Bloom
    bitmap, stored as 32,768-bit chunk rows in a snapshot table. The two
    60-bit hash seeds (h1, h2: double hashing, Kirsch-Mitzenmacher) are
    computed **JVM-side** from md5, and one Column expression gives the
    bit positions to both sides. The insert groups the keys' positions by
    (bucket, chunk) with ``bitmap_construct_agg`` and appends only the
    chunks it touched. The probe ORs each chunk's rows with
    ``bitmap_or_agg``, joins each candidate to its bucket's chunk map
    (``n_buckets`` rows, broadcast by the planner) and tests its k bits
    with ``substr``/``getbit``, so no Python stage runs on either side.

Keys are tracker keys, i.e. the URL with the query string stripped when
``include_query_string_in_saved_page=false`` (lib/polipus.rb:432-433) —
normalization happens in the caller.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polipus_spark.catalog import SnapshotCatalog, SnapshotTable, V_COL


_U64_DEC = "decimal(24,0)"  # holds h1//b + i·h2 < 2^60·(k+1) for k ≤ 2^19
_CHUNK_SHIFT = 15  # a Bloom row holds 2^15 bits: one chunk of Spark's bitmap_* functions


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


class BloomTracker:
    """J1/J2 — per-partition Bloom bitmaps, written and probed as Column
    expressions.

    Sizing (standard Bloom math): m = ceil(-n·ln p / ln²2) total bits split
    evenly over n_buckets (each bucket is an independent filter over its
    hash-share of keys), k = round(m/n·ln2) probes via double hashing
    pos_i = ((h1 div b + i·h2) mod 2^64) mod m_bucket (``_position``).
    Defaults mirror the reference: capacity 1e6, FPR 0.01
    (url_tracker.rb:6-7).

    Storage: ``(bucket int, chunk bigint, bits binary)`` rows, each one
    32,768-bit chunk in the layout of Spark's ``bitmap_*`` functions. Bit
    position p lives in chunk ``p >> 15`` at offset ``o = p & 32767``: byte
    ``o >> 3``, mask ``1 << (o & 7)``. A mark appends only the chunks it
    touched; a bucket's bitmap is the OR of its chunk rows (``_chunks``).
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

    def _position(self, i) -> Column:
        """Bit position i (an int or an int Column) of the ``_h1``/``_h2``
        row in its bucket. Decimal, because ``i·h2`` passes 2^64 once
        k > 16, where BIGINT would raise under ANSI."""
        base = F.expr(f"_h1 div {self.n_buckets}").cast(_U64_DEC)
        step = F.col("_h2").cast(_U64_DEC)
        two_64 = F.lit(Decimal(2**64)).cast(_U64_DEC)
        return (F.pmod(base + step * i, two_64) % self.m_bucket).cast("bigint")

    def _chunks(self) -> DataFrame:
        """One row per (bucket, chunk): the OR of every committed row."""
        return self.table.read().groupBy("bucket", "chunk").agg(
            F.bitmap_or_agg("bits").alias("bits")
        )

    # -- dataflow API ----------------------------------------------------------
    def probe(self, df: DataFrame, key_col: str) -> DataFrame:
        """Return df + boolean ``_seen`` column (Bloom membership).

        Each row joins its bucket's chunk map (``n_buckets`` rows, so the
        planner broadcasts it) and tests its k bits with ``substr``/
        ``getbit``. A chunk or bucket with no row reads as unset.
        """
        if not self.table.exists():
            return df.withColumn("_seen", F.lit(False))
        maps = self._chunks().groupBy("bucket").agg(
            F.map_from_entries(F.collect_list(F.struct("chunk", "bits"))).alias("_bm")
        ).withColumnRenamed("bucket", "_bm_bucket")
        hashed = _with_hashes(df, key_col, self.n_buckets)
        seen = F.lit(True)
        for i in range(self.k):
            pos = self._position(i)
            bits = F.element_at(F.col("_bm"), F.shiftright(pos, _CHUNK_SHIFT))
            off = pos.bitwiseAND((1 << _CHUNK_SHIFT) - 1)
            byte = F.conv(F.hex(F.substr(bits, F.shiftright(off, 3) + 1, F.lit(1))), 16, 10)
            seen = seen & (F.getbit(byte.cast("int"), off.bitwiseAND(7)) == 1)
        out = hashed.join(maps, F.col("_bucket") == F.col("_bm_bucket"), "left")
        return out.withColumn("_seen", F.coalesce(seen, F.lit(False))).drop(
            "_h1", "_h2", "_bucket", "_bm_bucket", "_bm"
        )

    def mark_seen(self, df: DataFrame, key_col: str, wave: int | None = None) -> None:
        """Append one chunk row per (bucket, chunk) the keys' bits touch."""
        keys = _with_hashes(
            df.select(F.col(key_col).alias("key")).distinct(), "key", self.n_buckets
        )
        pos = keys.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(self.k - 1)))).select(
            F.col("_bucket").alias("bucket"), self._position(F.col("_i")).alias("_p")
        )
        chunks = pos.groupBy("bucket", F.shiftright("_p", _CHUNK_SHIFT).alias("chunk")).agg(
            F.bitmap_construct_agg(F.col("_p").bitwiseAND((1 << _CHUNK_SHIFT) - 1)).alias("bits")
        )
        self.table.append(chunks, op="bloom_or", wave=wave)

    # -- scalar conveniences (spec-port tests) ---------------------------------
    def visit(self, spark: SparkSession, url: str) -> None:
        self.mark_seen(spark.createDataFrame([(url,)], "key string"), "key")

    def is_visited(self, spark: SparkSession, url: str) -> bool:
        df = spark.createDataFrame([(url,)], "key string")
        return self.probe(df, "key").collect()[0]["_seen"]

    def compact(self, wave: int | None = None) -> None:
        """One snapshot with one OR'ed row per (bucket, chunk)."""
        if self.table.exists():
            self.table.overwrite(self._chunks(), op="compact", wave=wave)

    def clear(self) -> None:
        self.table.truncate()


def make_tracker(catalog: SnapshotCatalog, mode: str, **kw):
    """url_tracker.rb:4-19 factory equivalent."""
    if mode == "exact":
        return ExactTracker(catalog)
    if mode == "bloom":
        return BloomTracker(catalog, **kw)
    raise ValueError(f"unknown tracker mode {mode!r}")
