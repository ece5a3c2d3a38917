"""Frontier operators: push (S3), pop (S2/O1), caps (O3/O4), politeness (A6).

The reference frontier is a Redis two-list FIFO queue (lib/polipus.rb:447-449)
with a Mongo overflow spill beyond ``queue_items_limit``
(queue_overflow/manager.rb:19-31). Here the frontier is one append-only
snapshot table bucketed by ``bucket(host_salt)``; "pop" is a salted
window-rank selection and "commit" is the wave's snapshot commit:

  * rows are immutable; a separate ``scheduled`` log records popped row seqs
    (frontier ∖ scheduled = pending) — merge-on-read, no rewrites;
  * FIFO order ⇒ oracle total order (priority, depth, discovery_ts, seq)
    (SURVEY O1); ``seq`` is the deterministic dense sequence from seq.py;
  * O3 hot-window cap = distributed top-k (TakeOrderedAndProject) instead of
    a spill/restore sidecar — rows beyond the cap simply stay pending, which
    is observably the spill-then-restore of the reference manager;
  * O4 capped mode keeps the NEWEST ``max`` rows (drop-oldest,
    mongo_queue_capped.rb:11-20, spec: 30 pushed / max 20 ⇒ head message_10);
  * politeness (A6): per-host budget per wave; with salt factor S a host's
    budget splits over its S salt partitions. Window-rank partitions by
    host_salt — the hot-host skew lever (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polipus_spark.catalog import SnapshotCatalog, SnapshotTable
from polipus_spark.config import CrawlOptions
from polipus_spark.functions.urls import bucket_of, host_salt, strip_query, url_host, url_uuid
from polipus_spark.operators.seq import with_global_seq
from polipus_spark.operators.topk import exact_top_k

# Oracle FIFO order (SURVEY O1): priority first (constant 0 by default ⇒ pure
# FIFO), then BFS depth, then enqueue wave, then deterministic seq.
ORDER_COLS = ["priority", "depth", "discovery_ts", "seq"]

FRONTIER_COLS = [
    "seq", "url", "tracker_key", "uuid", "host", "host_salt", "bucket",
    "referer", "depth", "priority", "discovery_ts", "is_seed", "user_data",
    "parent_seq", "link_pos",
]


class Frontier:
    def __init__(self, catalog: SnapshotCatalog, opts: CrawlOptions):
        self.opts = opts
        self.table: SnapshotTable = catalog.table("frontier")
        self.scheduled: SnapshotTable = catalog.table("scheduled")

    # ------------------------------------------------------------------ push
    def push(
        self, new_urls: DataFrame, wave: int, next_seq: int,
        persisted: list | None = None,
    ) -> tuple[int, int, DataFrame | None]:
        """S3: enrich, in-batch dedup (first-in-FIFO wins), assign seq, append.

        ``new_urls`` columns: url (canonical), referer, depth, priority,
        is_seed, user_data, parent_seq, link_pos.
        Returns (n_appended, next_seq_after, appended_df) — appended_df is the
        exact appended rows (persisted) so callers can tracker-mark them
        without re-reading the table. ``persisted`` receives the seq sort
        frame that keeps appended_df's ``seq`` stable: unpersist both
        together. An empty push releases both itself.
        """
        o = self.opts
        enriched = (
            new_urls.withColumn(
                "tracker_key",
                F.col("url") if o.include_query_string_in_saved_page else strip_query(F.col("url")),
            )
            .withColumn("uuid", url_uuid(F.col("url"), o.include_query_string_in_uuid))
            .withColumn("host", url_host(F.col("url")))
            .withColumn("host_salt", host_salt(F.col("url"), o.salt_factor))
            .withColumn("bucket", bucket_of(F.col("host_salt"), o.n_buckets))
            .withColumn("discovery_ts", F.lit(wave).cast("bigint"))
        )
        # In-batch dedup on tracker_key: the reference processes links
        # sequentially, so the FIRST discovery enqueues and tracker-marks the
        # URL and later ones hit the tracker (lib/polipus.rb:389-390,429-435).
        # Seeds and retries (link_pos = -1) are exempt — add_url enqueues
        # unconditionally, never consulting the tracker (166-168, 359-363).
        w = Window.partitionBy("tracker_key").orderBy("parent_seq", "link_pos", "url")
        deduped = (
            enriched.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) | F.col("is_seed") | (F.col("link_pos") < 0))
            .drop("_rn")
        )
        sort_frames: list = []
        with_seq = with_global_seq(
            deduped, ["parent_seq", "link_pos", "url"], start=next_seq, out_col="seq",
            persisted=sort_frames,
        )
        out = with_seq.select(*FRONTIER_COLS).persist()
        # One narrow agg instead of a bare count: the same job yields the
        # per-bucket breakdown the snapshot lineage records (north_rule:
        # "checkpointed per-PARTITION frontier snapshots with lineage and
        # fetch/enqueue/dedup-hit metrics") — ≤ n_buckets rows collected.
        per_bucket = {
            int(r["bucket"]): int(r["n"])
            for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        n = sum(per_bucket.values())
        if n:
            self.table.append(
                out, op="frontier_push", wave=wave, partition_by=["bucket"],
                metrics={
                    "enqueued": n,
                    "enqueued_per_bucket": {str(k): v for k, v in
                                            sorted(per_bucket.items())},
                },
            )
            if persisted is not None:
                persisted.extend(sort_frames)
        else:
            for df in [out, *sort_frames]:
                df.unpersist()
            out = None
        return n, next_seq + n, out

    # --------------------------------------------------------------- pending
    def pending(self, persisted: list | None = None) -> DataFrame:
        if not self.table.exists():
            raise ValueError("frontier is empty — push seeds first")
        f = self.table.read()
        if self.scheduled.exists():
            s = self.scheduled.read().select(F.col("seq").alias("_s_seq"))
            f = f.join(s, f["seq"] == s["_s_seq"], "left_anti")
        if self.opts.queue_overflow_capped_max is not None:
            # O4 drop-oldest: keep only the newest `max` rows — older ones are
            # permanently dropped (capped collection semantics). Newest-first
            # = ascending (-seq); exact_top_k keeps the merge task at ~max
            # rows instead of partitions×max (TakeOrderedAndProject).
            f = exact_top_k(
                f, [(-F.col("seq")).alias("_negseq")],
                self.opts.queue_overflow_capped_max,
                persisted=persisted,
            )
        return f

    def pending_count(self) -> int:
        try:
            return self.pending().count()
        except ValueError:
            return 0

    # --------------------------------------------------------------- compact
    def compact(self, wave: int | None = None) -> None:
        """Rewrite the frontier as pending-only rows and empty the scheduled
        log — without this, every pop anti-joins the full push history.

        Crash-safe ordering: the frontier is rewritten FIRST. If we die
        before the scheduled overwrite commits, scheduled still lists seqs
        that no longer exist in the frontier — the anti-join then drops
        nothing extra, so a resume sees exactly the same pending set."""
        if not self.table.exists():
            return
        pend = self.pending().select(*FRONTIER_COLS)
        self.table.overwrite(pend, op="compact", wave=wave)
        if self.scheduled.exists():
            empty = self.scheduled.read().select("seq").limit(0)
            self.scheduled.overwrite(empty, op="compact", wave=wave)

    # ------------------------------------------------------------------- pop
    def pop(
        self,
        wave: int,
        budgets: DataFrame | None = None,
        default_budget: int | None = None,
        persisted: list | None = None,
    ) -> DataFrame:
        """S2/O1: select this wave's fetch set; mark it scheduled.

        1. O3 hot window: top ``queue_items_limit`` rows by FIFO order
           (distributed top-k — rows beyond it stay pending = spilled).
        2. A6 politeness: row_number over host_salt partitions in FIFO order,
           capped at the per-salt share of the host budget. ``budgets`` is a
           small (host, budget) frame (from robots crawl delays and/or
           config); hosts absent from it get ``default_budget`` (None ⇒
           unlimited, the reference default — no Sleeper plugin).
        """
        pend = self.pending(persisted=persisted)
        limit = self.opts.queue_items_limit
        if limit is not None:
            # O3 hot window = exact global top-`limit` in FIFO order. At the
            # reference default (2M) a plain sort-limit would funnel
            # partitions×2M rows through one merge task; exact_top_k's
            # threshold selection keeps that merge at ~limit rows.
            pend = exact_top_k(pend, list(ORDER_COLS), limit,
                               persisted=persisted)

        if budgets is not None or default_budget is not None:
            w = Window.partitionBy("host_salt").orderBy(*[F.col(c) for c in ORDER_COLS])
            ranked = pend.withColumn("_rank", F.row_number().over(w))
            s = max(1, self.opts.salt_factor)
            if budgets is not None:
                b = budgets.select(
                    F.col("host").alias("_b_host"), F.col("budget").alias("_budget")
                )
                ranked = ranked.join(
                    F.broadcast(b), ranked["host"] == b["_b_host"], "left"
                ).drop("_b_host")
            else:
                ranked = ranked.withColumn("_budget", F.lit(None).cast("long"))
            if default_budget is not None:
                ranked = ranked.withColumn(
                    "_budget", F.coalesce(F.col("_budget"), F.lit(default_budget))
                )
            per_salt = F.greatest(F.lit(1), F.floor(F.col("_budget") / F.lit(s)))
            pop_df = ranked.where(
                F.col("_budget").isNull() | (F.col("_rank") <= per_salt)
            ).drop("_rank", "_budget")
        else:
            pop_df = pend

        pop_df = pop_df.select(*FRONTIER_COLS)
        self.scheduled.append(
            pop_df.select("seq"), op="frontier_pop", wave=wave,
            partition_by=None,
        )
        return pop_df

