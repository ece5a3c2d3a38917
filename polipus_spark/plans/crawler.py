"""The crawl session driver — wave-at-a-time re-expression of
PolipusCrawler#takeover (/root/reference/lib/polipus.rb:164-265).

One wave = one scheduling round (one BFS level when politeness budgets are
unlimited). Per wave, the dataflow is (SURVEY §3.1):

    pop (salted window-rank ≤ budget)            S2/O1/O3/A6
    → revalidate policy, tracker-less            F7 (robots F2, white/black F1)
    → anti-join pages (late dedup, seed bypass)  F8/J6
    → simulated fetch vs docs + redirects        S4/J5/F12/O5
    → re-check redirect finals                   lib/polipus.rb:208-212
    → error hooks                                lib/polipus.rb:220-224
    → on_before_save, store storable pages       S5/F11
    → depth gate, link extraction                F5/X2/F9/F10/J9
    → policy chain + TTL-force + tracker probe   F1/F6/J1
    → push frontier + mark seen (enqueue time!)  S3/J2 (§3.2 timing)
    → append metrics, commit                     S10/A3

All state is snapshot tables, so `resume()` continues a killed crawl
exactly: wave counter, seq counter and logical clock are persisted in each
metrics row; tables only ever see committed snapshots.

Crawl-order parity: the fetched set of wave k, internally ordered by
(priority, depth, discovery_ts, seq), concatenated over k — the oracle
total order (SURVEY §4 hard-parts). The pure-Python simulator
(polipus_spark/simulator.py) implements identical semantics; tests compare
both orderings and the final URL-seen set exactly.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polipus_spark.catalog import SnapshotCatalog, V_COL
from polipus_spark.config import CrawlOptions
from polipus_spark.functions.links import extract_links
from polipus_spark.functions.robots import crawl_delays_df, robots_rules_df
from polipus_spark.functions.urls import canonicalize_pd, url_uuid
from polipus_spark.operators.fetch import (
    fetch_wave, redirect_map, resolve_redirects,
)
from polipus_spark.operators.frontier import Frontier, ORDER_COLS
from polipus_spark.operators.tracker import make_tracker

USER_DATA_T = T.MapType(T.StringType(), T.StringType())

PAGE_COLS = [
    "uuid", "url", "final_url", "referer", "depth", "priority", "discovery_ts",
    "seq", "code", "spans", "aliases", "redirect_to", "response_time",
    "fetched", "fetched_at", "error", "is_seed", "user_data", "wave",
]


def _path_col(url) -> F.Column:
    """URI#path — whitelist/blacklist match target (lib/polipus.rb:381-384)."""
    p = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    p = F.regexp_replace(p, r"[?#].*$", "")
    return F.when(p == "", "/").otherwise(p)


def _release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``-ed frame's blocks now; the JVM alone frees
    them only when it garbage-collects the RDD."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class PolipusCrawler:
    """Drop-in analog of the reference crawler over a docs corpus table."""

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        opts: CrawlOptions,
        work_dir: str,
        clock_fn: Callable[[int], int] | None = None,
    ):
        self.spark = spark
        self.docs = docs
        self.opts = opts
        # J5: docs do not change during a session, so every redirect chain
        # is resolved once here; counted so the planner knows its size
        self.redirects = redirect_map(docs, opts.redirect_limit).persist()
        self.redirects.count()
        self.catalog = SnapshotCatalog(spark, work_dir)
        self.frontier = Frontier(self.catalog, opts)
        self.tracker = self._make_tracker()
        self.pages = self.catalog.table("pages")
        # Append-only crawl journal (narrow: one row per stored fetch) —
        # feeds crawl_order()/host_stats(). Kept separate from the pages
        # STATE table so pages can be compacted to its MoR view without
        # losing re-download history.
        self.fetch_log = self.catalog.table("fetch_log")
        self.metrics = self.catalog.table("metrics")
        self.clock_fn = clock_fn or (lambda wave: wave)
        # user hooks (reference: lib/polipus.rb:283-319)
        self.on_page_downloaded: list[Callable[[DataFrame], None]] = []
        self.on_page_error: list[Callable[[DataFrame], None]] = []
        self.on_before_save: list[Callable[[DataFrame], DataFrame]] = []
        self.on_crawl_start: list[Callable] = []
        self.on_crawl_end: list[Callable] = []
        self.focus_crawl_fn: Callable[[DataFrame], DataFrame] | None = None
        self._stop_requested = False
        self._robots_rules: DataFrame | None = None
        # plugin protocol (plugin.rb:5-12; executed at lib/polipus.rb:156)
        self._execute_plugin("on_initialize")

    def _execute_plugin(self, method: str, payload=None):
        """lib/polipus.rb:479-487 analog: run ``<method>`` on every
        registered plugin; a returned callable runs with the crawler
        (Proc instance_eval analog); a returned DataFrame replaces the
        wave payload (dataflow-rewriting hooks)."""
        from polipus_spark import plugin as _plugin

        out = payload
        for _name, p in _plugin.registry.plugins().items():
            fn = getattr(p, method, None)
            if fn is None:
                continue
            ret = fn(self) if payload is None else fn(self, out)
            if callable(ret) and not isinstance(ret, DataFrame):
                ret = ret(self)
            if payload is not None and isinstance(ret, DataFrame):
                out = ret
        return out

    def _run_frame_hook(
        self, method: str, frame: DataFrame, persisted: bool = False
    ) -> DataFrame:
        """Run a dataflow-rewriting plugin hook with the replacement
        contract enforced (r2 ADVICE): a replacement frame must preserve
        every column of the input (the wave pipeline reads internal ``_``
        columns and ORDER_COLS after the hook — plugins may add columns,
        never drop), and when the input handle was persisted the ORIGINAL
        cache is released and the replacement persisted in its place
        (previously the original leaked and the end-of-wave unpersist hit
        the replacement instead)."""
        from polipus_spark.plugin import PluginContractError

        out = self._execute_plugin(method, frame)
        if out is frame:
            return frame
        missing = [c for c in frame.columns if c not in out.columns]
        if missing:
            raise PluginContractError(
                f"{method} plugin replacement dropped required columns: {missing}"
            )
        if persisted:
            frame.unpersist()
            out = out.persist()
        return out

    def _make_tracker(self):
        o = self.opts
        kw = {}
        if o.tracker_mode == "bloom":
            kw = dict(capacity=o.bloom_capacity, error_rate=o.bloom_error_rate,
                      n_buckets=o.n_buckets)
        return make_tracker(self.catalog, o.tracker_mode, **kw)

    # ------------------------------------------------------------ lifecycle
    def stop(self) -> None:
        """Graceful stop (signal_handler.rb analog): finish wave, keep state."""
        self._stop_requested = True

    def _rollback_incomplete(self, committed_wave: int) -> None:
        """Crash recovery: drop any snapshot written for a wave whose metrics
        row never committed (metrics is the last write of a wave — the wave's
        commit point). Iceberg analog: rollback_to_snapshot on each table."""
        for t in (
            self.frontier.table, self.frontier.scheduled, self.pages,
            self.fetch_log, self.tracker.table,
        ):
            if not t.exists():
                continue
            keep = 0
            for s in t.lineage():
                if s["wave"] is None or s["wave"] <= committed_wave:
                    keep = s["version"]
                else:
                    break
            t.rollback(keep)

    def _last_metrics(self) -> dict | None:
        if not self.metrics.exists():
            return None
        rows = self.metrics.read().orderBy(F.col("wave").desc()).limit(1).collect()
        return rows[0].asDict() if rows else None

    def seed(self, urls: list[str] | list[tuple[str, int]], wave: int, next_seq: int) -> int:
        """S1: normalize seeds, enqueue with p_seeded (lib/polipus.rb:130-131,166-168)."""
        rows = []
        for i, u in enumerate(urls):
            url, priority = (u, 0) if isinstance(u, str) else u
            canon = canonicalize_pd(pd.Series([url])).iloc[0]
            rows.append((canon, None, 0, priority, True, {"p_seeded": "true"}, -1, i))
        seeds_df = self.spark.createDataFrame(
            rows,
            T.StructType([
                T.StructField("url", T.StringType()),
                T.StructField("referer", T.StringType()),
                T.StructField("depth", T.IntegerType()),
                T.StructField("priority", T.IntegerType()),
                T.StructField("is_seed", T.BooleanType()),
                T.StructField("user_data", USER_DATA_T),
                T.StructField("parent_seq", T.LongType()),
                T.StructField("link_pos", T.IntegerType()),
            ]),
        )
        push_frames: list = []
        n, _, appended = self.frontier.push(
            seeds_df, wave=wave, next_seq=next_seq, persisted=push_frames
        )
        if appended is not None:
            for df in [appended, *push_frames]:
                df.unpersist()
        # NB: seeds are NOT tracker-marked (add_url skips the tracker,
        # lib/polipus.rb:359-363) — hence "seeds always re-fetched".
        return n

    # -------------------------------------------------------------- helpers
    def _robots(self) -> DataFrame | None:
        if not self.opts.obey_robots_txt:
            return None
        if self._robots_rules is None:
            df = robots_rules_df(self.docs)
            self._robots_rules = df
            df.cache()
        return self._robots_rules

    def _budgets(self) -> DataFrame | None:
        """A6: per-host budget/wave = floor(wave_seconds / crawl_delay).
        Static per session — computed once and cached."""
        if getattr(self, "_budgets_cache", "unset") != "unset":
            return self._budgets_cache
        self._budgets_cache = self._budgets_uncached()
        if self._budgets_cache is not None:
            self._budgets_cache = self._budgets_cache.cache()
        return self._budgets_cache

    def _budgets_uncached(self) -> DataFrame | None:
        rules = self._robots()
        if rules is None:
            return None
        ua = self.opts.user_agent
        ua0 = ua[0] if isinstance(ua, list) else ua
        delays = crawl_delays_df(rules, ua0)
        return delays.where(F.col("crawl_delay") > 0).select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(self.opts.wave_seconds) / F.col("crawl_delay")),
            ).cast("long").alias("budget"),
        )

    def _policy_filter(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """F7 / first 3 arms of F1: robots → whitelist → blacklist, on path."""
        o = self.opts
        rules = self._robots()
        if rules is not None:
            from polipus_spark.functions.robots import filter_robots_allowed

            ua = o.user_agent[0] if isinstance(o.user_agent, list) else o.user_agent
            df = filter_robots_allowed(df, rules, ua, url_col=url_col, host_col="host")
        path = _path_col(F.col(url_col))
        if o.follow_links_like:
            cond = F.lit(False)
            for p in o.follow_links_like:
                cond = cond | path.rlike(p)
            df = df.where(cond)
        for p in o.skip_links_like:
            df = df.where(~path.rlike(p))
        return df

    def _pages_state(self) -> DataFrame | None:
        """Latest stored page per uuid (merge-on-read S5 view); uuids whose
        newest row is a remove-tombstone drop out (storage delete)."""
        if not self.pages.exists():
            return None
        # last-write-wins tiebreak = (snapshot, wave, seq) — the sequential
        # reference's "later store overwrites" order.
        st = self.pages.read_latest_by(["uuid"], order_extra=["wave", "seq"])
        if "_deleted" in st.columns:
            st = st.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")
        if "spans_z" in st.columns:
            # X8 read path (mongo_store.rb:70-77): inflate + re-parse the
            # deflated span JSON. Lazy per-row and projection-pruned —
            # consumers that never select spans never pay the inflate.
            # A store can mix snapshots written with and without
            # compress_body (option toggled across sessions): rows written
            # plain carry spans and a NULL spans_z, so coalesce per row
            # rather than overwrite — otherwise the plain rows' spans
            # would be nulled.
            from polipus_spark.functions.serde import inflate_stored_body
            from polipus_spark.sources.corpus import DOCS_SCHEMA

            inflated = F.from_json(
                inflate_stored_body(F.col("spans_z")),
                DOCS_SCHEMA["spans"].dataType,
            )
            if "spans" in st.columns:
                st = st.withColumn(
                    "spans", F.coalesce(F.col("spans"), inflated)
                ).drop("spans_z")
            else:
                st = st.withColumn("spans", inflated).drop("spans_z")
        return st

    def remove_pages(self, uuids) -> None:
        """S5 delete path (mongo_store.rb:49-60 ``remove(page)``): append a
        merge-on-read tombstone per uuid — the newest row wins, so the page
        disappears from ``pages_df``/F8 immediately and the physical rows
        drop out at the next compaction."""
        if not self.pages.exists():
            return
        if not isinstance(uuids, DataFrame):
            uuids = self.spark.createDataFrame(
                [(u,) for u in uuids], "uuid string"
            )
        schema = self.pages.read().schema
        tomb = uuids.select("uuid")
        for f in schema.fields:
            if f.name in ("uuid", V_COL):
                continue
            if f.name == "_deleted":
                tomb = tomb.withColumn("_deleted", F.lit(True))
            else:
                tomb = tomb.withColumn(f.name, F.lit(None).cast(f.dataType))
        tomb = tomb.select(*[f.name for f in schema.fields if f.name != V_COL])
        self.pages.append(tomb, op="pages_remove")

    def _expired_cond(self, fetched_at_col, now: int):
        ttl = self.opts.ttl_page
        if ttl is None:
            return F.lit(False)
        # page.rb:240-243: (now - ttl) > fetched_at ; nil fetched_at ⇒ not expired
        return fetched_at_col.isNotNull() & (F.lit(now - ttl) > fetched_at_col)

    # ------------------------------------------------------------- the wave
    def process_wave(self, wave: int, next_seq: int) -> dict:
        now = self.clock_fn(wave)
        o = self.opts
        m: dict = {"wave": wave, "clock": now}

        # frames the pop's top-k selection persists (keyed pending
        # anti-join); released with the wave's other persists below
        pop_frames: list = []
        popped = self.frontier.pop(
            wave, budgets=self._budgets(), default_budget=o.per_host_budget,
            persisted=pop_frames,
        ).persist()
        m["scheduled"] = popped.count()
        if m["scheduled"] == 0:
            popped.unpersist()
            for pf in pop_frames:
                pf.unpersist()
            m.update(fetched=0, errors=0, enqueued=0, dedup_hits=0,
                     policy_dropped=0, next_seq=next_seq)
            return m

        # plugin hook: message batch received (lib/polipus.rb:182)
        popped = self._run_frame_hook("on_message_received", popped, persisted=True)

        # F7 dequeue-time revalidation (tracker-less, lib/polipus.rb:186-190),
        # then J5: each URL's redirect chain, looked up in the session's map
        valid = resolve_redirects(self._policy_filter(popped, "url"), self.redirects)

        # F8 page_exists?: stored && !expired && !seeded ⇒ skip
        # (lib/polipus.rb:192-196, 413-416)
        # One MoR resolution per wave, persisted — it feeds three joins
        # (pre-fetch dedup, redirect re-check, TTL force).
        stored = self._pages_state()
        if stored is not None:
            stored = stored.select("uuid", "fetched_at").persist()
            st = stored.select(
                F.col("uuid").alias("_st_uuid"), F.col("fetched_at").alias("_st_fat")
            )
            valid = (
                valid.join(st, valid["uuid"] == st["_st_uuid"], "left")
                .withColumn(
                    "_exists",
                    F.col("_st_uuid").isNotNull()
                    & ~self._expired_cond(F.col("_st_fat"), now)
                    & ~F.col("is_seed"),
                )
                .drop("_st_uuid", "_st_fat")
            )
        else:
            valid = valid.withColumn("_exists", F.lit(False))
        # Metric action 1 of 2: |valid| and pre-fetch dedup hits in one agg
        # over the persisted policy-filtered frame (also reused by the fetch,
        # so the policy chain and storage join evaluate once per wave).
        valid = valid.persist()
        pre = valid.agg(
            F.count("*").alias("n"),
            F.sum(F.col("_exists").cast("long")).alias("dups"),
        ).collect()[0]
        dedup_hits = int(pre["dups"] or 0)
        m["dedup_hits"] = dedup_hits
        n_valid = int(pre["n"]) - dedup_hits
        valid_live = valid.where(~F.col("_exists")).drop("_exists")
        # plugin hook: about to fetch (lib/polipus.rb:201)
        valid_live = self._run_frame_hook("on_before_download", valid_live)

        # S4 fetch: one docs join on the final URLs resolved above
        fetched = fetch_wave(
            valid_live, self.docs, logical_now=now,
            wave_rows=n_valid,
            broadcast_max_rows=o.broadcast_wave_max_rows,
        )
        fetched = fetched.withColumn(
            "final_uuid", url_uuid(F.col("final_url"), o.include_query_string_in_uuid)
        )
        # redirect finals: re-check storage on the final URL
        # (lib/polipus.rb:208-212) — kept as a FLAG, counted in the single
        # post-fetch agg below instead of its own job.
        if stored is not None:
            moved = F.col("final_url") != F.col("url")
            st2 = stored.select(
                F.col("uuid").alias("_st2_uuid"), F.col("fetched_at").alias("_st2_fat")
            )
            fetched = (
                fetched.join(st2, fetched["final_uuid"] == st2["_st2_uuid"], "left")
                .withColumn(
                    "_exists2",
                    moved
                    & F.col("_st2_uuid").isNotNull()
                    & ~self._expired_cond(F.col("_st2_fat"), now)
                    & ~F.col("is_seed"),
                )
                .drop("_st2_uuid", "_st2_fat")
            )
        else:
            fetched = fetched.withColumn("_exists2", F.lit(False))

        # Same-wave duplicate finals: the sequential reference stores the
        # first and skips later ones via page_exists (storage is consulted
        # live); our pre-wave snapshot join can't see them, so replicate with
        # an in-wave window dedup on final_uuid (seeds are never skipped,
        # lib/polipus.rb:413-415). Partitioning by (final_uuid, _exists2)
        # ranks only among rows that survive the redirect re-check — the same
        # ranks a filter-then-rank would produce.
        from pyspark.sql import Window as W

        w_dup = W.partitionBy("final_uuid", "_exists2").orderBy(
            *[F.col(c) for c in ORDER_COLS]
        )
        fetched = fetched.withColumn("_rn", F.row_number().over(w_dup))
        # plugin hook: downloaded + redirect-resolved (lib/polipus.rb:218)
        fetched = self._run_frame_hook("on_after_download", fetched)

        live = ~F.col("_exists2") & ((F.col("_rn") == 1) | F.col("is_seed"))
        samewave_dup = ~F.col("_exists2") & (F.col("_rn") > 1) & ~F.col("is_seed")

        # O6 retry: error pages with attempts left are NOT stored and get
        # re-enqueued unconditionally (http.rb:217 retries /
        # examples/error_handling.rb add_to_queue pattern).
        retry_cnt = F.coalesce(
            F.element_at(F.col("user_data"), "retry").cast("int"), F.lit(0)
        )
        will_retry = (
            F.col("error").isNotNull()
            & F.lit(o.retry_limit > 0)
            & (retry_cnt < F.lit(o.retry_limit))
        )
        is_expandable = live & F.col("spans").isNotNull()
        if o.depth_limit is not None:
            is_expandable = is_expandable & (F.col("depth") < F.lit(o.depth_limit))

        # Metric action 2 of 2: every post-fetch counter in ONE agg over the
        # materialized fetch result (was ~6 separate jobs). A local checkpoint,
        # not a cache: the wave's later plans (links, push, tracker, appends)
        # read it as a leaf, where a cached frame prints its whole upstream
        # plan (pop, robots, redirect map) inside each of theirs: a frontier
        # append's plan string grew from 0.2 MB to 8 MB, waves slowed and
        # the event log ran out of heap. Released at the end of the wave,
        # not left to the JVM's garbage collector.
        fetched = fetched.localCheckpoint(eager=False)
        cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
        post = fetched.agg(
            cnt(F.col("_exists2")).alias("redirect_dupes"),
            cnt(samewave_dup).alias("samewave"),
            cnt(live).alias("n_live"),
            cnt(live & F.col("error").isNotNull()).alias("errors"),
            cnt(live & will_retry).alias("retried"),
            cnt(live & ~will_retry).alias("storable"),
            cnt(is_expandable).alias("expandable"),
        ).collect()[0]
        as_i = lambda v: int(v or 0)  # noqa: E731
        m["dedup_hits"] += as_i(post["redirect_dupes"]) + as_i(post["samewave"])
        m["fetched"] = as_i(post["n_live"])  # processed pages (incr_pages analog)
        m["errors"] = as_i(post["errors"])
        m["retried"] = as_i(post["retried"]) if o.retry_limit > 0 else 0
        m["policy_dropped"] = m["scheduled"] - m["dedup_hits"] - m["fetched"]

        live_df = fetched.where(live).drop("_rn", "_exists2")

        # error hooks (lib/polipus.rb:220-224); error pages still get stored
        if m["errors"]:
            errs = live_df.where(F.col("error").isNotNull())
            for hook in self.on_page_error:
                hook(errs)

        # on_before_save may mutate (e.g. set storable=false, F11)
        to_save = live_df.withColumn("storable", ~will_retry)
        for hook in self.on_before_save:
            to_save = hook(to_save)
        if o.storage_enabled is False:  # S9 devnull storage
            to_save = to_save.withColumn("storable", F.lit(False))

        page_rows = (
            to_save.where(F.col("storable"))
            .select(
                F.col("final_uuid").alias("uuid"),
                F.col("final_url").alias("url"),
                F.col("url").alias("requested_url"),
                "final_url", "referer", "depth", "priority", "discovery_ts",
                "seq", "code", "spans", "aliases", "redirect_to",
                "response_time", "fetched", "fetched_at", "error", "is_seed",
                "user_data", F.lit(wave).alias("wave"),
            )
            .drop(*[c for c in o.storage_except_cols])  # X11 (mongo_store.rb:27)
            .withColumn("_deleted", F.lit(False))  # MoR delete marker
        )
        if o.compress_body and "spans" in page_rows.columns:
            # X8 (mongo_store.rb:29): deflate the body before the store
            # write. Body analog = the spans array, serialized to JSON then
            # zlib-deflated into a binary column; _pages_state inflates and
            # re-parses on read, so pages_df() round-trips the exact span
            # sequence (kind, text, media_ref, offset order preserved).
            from polipus_spark.functions.serde import deflate_body

            page_rows = page_rows.withColumn(
                "spans_z", deflate_body(F.to_json("spans"))
            ).drop("spans")
        if o.storage_enabled is False:
            m["stored"] = 0
        elif self.on_before_save:
            m["stored"] = page_rows.count()  # hooks may mutate storable
        else:
            m["stored"] = as_i(post["storable"])
        if m["stored"]:
            self.pages.append(page_rows, op="pages_upsert", wave=wave,
                              metrics={"stored": m["stored"]})
            self.fetch_log.append(
                to_save.where(F.col("storable")).select(
                    F.lit(wave).alias("wave"), "priority", "depth",
                    "discovery_ts", "seq",
                    F.col("url").alias("requested_url"),
                    F.col("final_url").alias("url"),
                ),
                op="fetch_log", wave=wave,
            )
        for hook in self.on_page_downloaded:
            hook(live_df)

        # F5 depth gate + X2 link expansion (lib/polipus.rb:239-246)
        expandable = live_df.where(F.col("spans").isNotNull())
        if o.depth_limit is not None:
            expandable = expandable.where(F.col("depth") < F.lit(o.depth_limit))

        # O6 retry candidates: bypass every gate (add_url semantics); seq is
        # assigned by (parent_seq, link_pos=-1) so a retry interleaves exactly
        # where the sequential reference would enqueue it.
        to_push = []
        if m["retried"]:
            retries = live_df.where(will_retry).select(
                F.col("url"),
                F.col("referer"),
                F.col("depth"),
                F.col("priority"),
                F.lit(False).alias("is_seed"),
                F.map_from_arrays(
                    F.array(F.lit("retry")),
                    F.array((retry_cnt + 1).cast("string")),
                ).cast(USER_DATA_T).alias("user_data"),
                F.col("seq").alias("parent_seq"),
                F.lit(-1).alias("link_pos"),
            )
            to_push.append(retries)

        enqueued = 0
        new_next_seq = next_seq
        if as_i(post["expandable"]) > 0:
            parents = expandable.select(
                F.col("final_url").alias("p_url"),
                F.col("depth").alias("p_depth"),
                F.col("seq").alias("p_seq"),
                F.col("spans").alias("spans"),
            )
            if self.focus_crawl_fn is not None:
                links = self.focus_crawl_fn(parents)
            else:
                links = extract_links(
                    parents, url_col="p_url", spans_col="spans",
                    domain_aliases=o.domain_aliases,
                )
            cand = (
                links.join(parents.drop("spans"), links["url"] == parents["p_url"])
                .select(
                    F.col("link").alias("url"),
                    F.col("p_url").alias("referer"),
                    (F.col("p_depth") + 1).alias("depth"),
                    F.lit(0).alias("priority"),
                    F.lit(False).alias("is_seed"),
                    F.create_map().cast(USER_DATA_T).alias("user_data"),
                    F.col("p_seq").alias("parent_seq"),
                    F.col("link_pos"),
                )
            )
            from polipus_spark.functions.urls import url_host as _uh

            cand = cand.withColumn("host", _uh(F.col("url")))
            # F1 policy arms 1-3
            cand = self._policy_filter(cand, "url")
            # F1 arm 4: expired pages FORCE a visit, bypassing the tracker
            # (lib/polipus.rb:386-390 — branch order is observable!)
            tracker_key = (
                F.col("url")
                if o.include_query_string_in_saved_page
                else F.regexp_replace(F.col("url"), r"\?.*$", "")
            )
            cand = cand.withColumn("_tkey", tracker_key)
            cand_uuid = url_uuid(F.col("url"), o.include_query_string_in_uuid)
            if stored is not None and o.ttl_page is not None:
                st3 = stored.select(
                    F.col("uuid").alias("_st3_uuid"),
                    F.col("fetched_at").alias("_st3_fat"),
                )
                cand = (
                    cand.withColumn("_uuid", cand_uuid)
                    .join(st3, F.col("_uuid") == st3["_st3_uuid"], "left")
                    .withColumn("_force", self._expired_cond(F.col("_st3_fat"), now))
                    .drop("_st3_uuid", "_st3_fat", "_uuid")
                )
            else:
                cand = cand.withColumn("_force", F.lit(False))
            # F1 arm 5: tracker probe (J1) — forced rows skip it
            probed = self.tracker.probe(cand, "_tkey")
            passed = probed.where(F.col("_force") | ~F.col("_seen")).drop(
                "_seen", "_force"
            )
            passed = passed.drop("host", "_tkey")
            to_push.append(passed)

        if to_push:
            batch = to_push[0]
            for extra in to_push[1:]:
                batch = batch.unionByName(extra)
            batch = batch.persist()
            # an empty batch appends nothing: push returns (0, next_seq, None)
            push_frames: list = []  # the seq sort frame, released with appended
            enqueued, new_next_seq, appended = self.frontier.push(
                batch, wave=wave, next_seq=next_seq, persisted=push_frames
            )
            if appended is not None:
                # J2: mark seen at ENQUEUE time (§3.2) — exactly the link
                # rows that survived in-batch dedup and were appended.
                # Seeds and retries (link_pos<0) are never tracker-marked
                # (add_url skips the tracker, lib/polipus.rb:359-363).
                self.tracker.mark_seen(
                    appended.where(~F.col("is_seed") & (F.col("link_pos") >= 0)),
                    "tracker_key",
                    wave=wave,
                )
                for df in [appended, *push_frames]:
                    df.unpersist()
            batch.unpersist()

        m["enqueued"] = enqueued
        m["next_seq"] = new_next_seq
        # plugin hook: wave fully processed (lib/polipus.rb:250)
        self._execute_plugin("on_message_processed", m)
        _release_checkpoint(fetched)
        valid.unpersist()
        popped.unpersist()
        for pf in pop_frames:  # top-k selection intermediates (frontier.pop)
            pf.unpersist()
        if stored is not None:
            stored.unpersist()
        return m

    # ------------------------------------------------------------- takeover
    def takeover(self, seeds: list | None = None, resume: bool = False) -> None:
        """One crawl session. New session re-pushes seeds (spec: seeder
        re-download); resume=True continues a killed crawl exactly."""
        last = self._last_metrics()
        if last is None:
            wave, next_seq = 0, 0
        else:
            wave, next_seq = last["wave"] + 1, last["next_seq"]
        if resume and last is not None:
            self._rollback_incomplete(last["wave"])

        for hook in self.on_crawl_start:
            hook(self)
        self._execute_plugin("on_crawl_start")  # lib/polipus.rb:173
        if not resume:
            if seeds:
                n = self.seed(seeds, wave=wave, next_seq=next_seq)
                next_seq += n
            elif last is None:
                raise ValueError("first session needs seeds")

        from polipus_spark.signal_handler import handle_signals

        max_w = self.opts.max_waves
        start_wave = wave
        self._stop_requested = False
        with handle_signals(self, self.opts.enable_signal_handler):
            self._takeover_loop(wave, next_seq, start_wave, max_w)
        for hook in self.on_crawl_end:
            hook(self)
        self._execute_plugin("on_crawl_end")  # lib/polipus.rb:264

    def _takeover_loop(self, wave: int, next_seq: int, start_wave: int,
                       max_w: int | None) -> None:
        """The wave loop. A signal-triggered ``stop()`` is honored at the
        wave boundary: the in-flight wave finishes and commits its metrics
        row, so the crawl is exactly resumable (signal_handler.rb's
        "finish the message, keep state" contract)."""
        while not self._stop_requested:
            if max_w is not None and wave - start_wave >= max_w:
                break
            try:
                m = self.process_wave(wave, next_seq)
            except ValueError:  # frontier never seeded
                break
            if m["scheduled"] == 0:  # queue drained — session over (S2 timeout)
                break
            next_seq = m["next_seq"]
            row = (
                m["wave"], m["clock"], m.get("scheduled", 0),
                m.get("dedup_hits", 0), m.get("policy_dropped", 0),
                m.get("fetched", 0), m.get("stored", 0), m.get("errors", 0),
                m.get("enqueued", 0), m.get("retried", 0), m["next_seq"],
            )
            self.metrics.append(
                self.spark.createDataFrame(
                    [row],
                    "wave int, clock bigint, scheduled long, dedup_hits long, "
                    "policy_dropped long, fetched long, stored long, "
                    "errors long, enqueued long, retried long, next_seq long",
                ),
                op="wave_metrics",
                wave=wave,
            )
            # The metrics row above is the wave's commit point, so state
            # compacted NOW survives any rollback — resume keeps it.
            k = self.opts.compact_every_waves
            if k and (wave + 1) % k == 0:
                self._compact(wave)
            wave += 1

    def _compact(self, wave: int) -> None:
        """Keep MoR resolution flat on long crawls: every K committed waves,
        rewrite each grow-forever log as its resolved view (pages → latest
        per uuid minus remove-tombstones, tracker → live keys / OR'ed
        bitmap chunks, frontier → pending rows only) and vacuum orphaned
        snapshot dirs. fetch_log and metrics are append-only journals and
        are never compacted."""
        if self.pages.exists():
            live = self.pages.read_latest_by(["uuid"], order_extra=["wave", "seq"])
            if "_deleted" in live.columns:
                live = live.where(~F.coalesce(F.col("_deleted"), F.lit(False)))
            self.pages.overwrite(live, op="compact", wave=wave)
        self.tracker.compact(wave=wave)
        self.frontier.compact(wave=wave)
        for t in (self.pages, self.frontier.table, self.frontier.scheduled,
                  self.tracker.table):
            t.vacuum()

    # -------------------------------------------------------------- results
    def pages_df(self) -> DataFrame | None:
        return self._pages_state()

    def crawl_order(self) -> list[str]:
        """Oracle artifact: fetched URLs in (wave, priority, depth,
        discovery_ts, seq) order — requested URL, as the reference logs the
        popped message's url. Reads the append-only fetch_log journal
        (compaction-proof)."""
        if not self.fetch_log.exists():
            return []
        rows = (
            self.fetch_log.read()
            .orderBy("wave", *ORDER_COLS)
            .select("requested_url")
            .collect()
        )
        return [r["requested_url"] for r in rows]

    def seen_set(self) -> set[str]:
        if hasattr(self.tracker, "seen_keys"):
            return self.tracker.seen_keys()
        raise NotImplementedError("exact tracker required for seen-set parity")

    def stats(self) -> dict:
        """S10: cumulative pages/errors counters (lib/polipus.rb:452-459)."""
        if not self.metrics.exists():
            return {"pages": 0, "errors": 0}
        agg = self.metrics.read().agg(
            F.sum("fetched").alias("p"), F.sum("errors").alias("e")
        ).collect()[0]
        return {"pages": agg["p"] or 0, "errors": agg["e"] or 0}

    def host_stats(self) -> DataFrame:
        """A5: per-host fetch counts per wave (http.rb:225-239 politeness
        accounting analog)."""
        from polipus_spark.functions.urls import url_host

        return (
            self.fetch_log.read()
            .groupBy("wave", url_host(F.col("url")).alias("host"))
            .agg(F.count("*").alias("fetches"))
        )
