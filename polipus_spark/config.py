"""Crawl options — mirrors the reference's OPTS defaults.

Reference: /root/reference/lib/polipus.rb:23-84 (OPTS hash). Field-for-field
parity where the option is observable in the dataflow; options that only
configure Ruby plumbing (redis connection, logger) are dropped.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlOptions:
    job_name: str = "polipus"                 # lib/polipus.rb:24
    depth_limit: int | None = None            # false = unlimited, lib/polipus.rb:29
    redirect_limit: int = 5                   # lib/polipus.rb:31
    queue_timeout: int = 30                   # lib/polipus.rb:48 (idle stop, sec)
    queue_items_limit: int = 2_000_000        # lib/polipus.rb:60 (hot window cap)
    queue_overflow_capped_max: int | None = None   # queue_overflow.rb:17 semantics
    ttl_page: int | None = None               # lib/polipus.rb:66 (sec; None = never)
    obey_robots_txt: bool = False             # lib/polipus.rb:58
    user_agent: str | list[str] = "Polipus"   # lib/polipus.rb:27 (list => sampled, X9)
    follow_links_like: list[str] = field(default_factory=list)   # whitelist regexes
    skip_links_like: list[str] = field(default_factory=list)     # blacklist regexes
    domain_aliases: list[str] = field(default_factory=list)  # extra same-domain hosts
    include_query_string_in_uuid: bool = True        # storage/base.rb:12-15
    include_query_string_in_saved_page: bool = True  # lib/polipus.rb:74, 431-433
    enable_signal_handler: bool = True         # lib/polipus.rb:76
    # --- Spark-side knobs (no reference analog; scale levers) ---
    n_buckets: int = 32          # frontier bucket count: bucket(host_salt) partitioning
    salt_factor: int = 1         # hot-host salt fanout S; host_salt = hash(host)*S + h(url)%S
    per_host_budget: int | None = None   # max fetches per host per wave (politeness);
                                         # None = unlimited (reference default: no Sleeper)
    wave_seconds: float = 60.0   # logical wave duration; budget = wave_seconds/crawl_delay
    broadcast_wave_max_rows: int = 250_000  # fetch join: broadcast the popped wave
                                         # only when it's at most this many rows
                                         # (~tens of MB); bigger waves fall back to
                                         # a plain left join under AQE so an
                                         # unlimited-budget wave can't OOM the driver
    tracker_mode: str = "exact"  # 'exact' | 'bloom' (url_tracker.rb:4-19)
    bloom_capacity: int = 1_000_000   # url_tracker.rb:6
    bloom_error_rate: float = 0.01    # url_tracker.rb:7
    compact_every_waves: int | None = 8  # every K committed waves, rewrite the
                                         # grow-forever logs (pages MoR, tracker,
                                         # frontier∖scheduled) as their resolved
                                         # views so per-wave MoR cost stays flat;
                                         # None disables
    storage_enabled: bool = True      # devnull storage when False (storage/dev_null.rb)
    storage_except_cols: list[str] = field(default_factory=list)  # X11 (mongo_store.rb:27)
    compress_body: bool = False       # X8 (mongo_store.rb:29): store spans as
                                      # zlib-deflated JSON (spans_z binary),
                                      # inflated+re-parsed on pages_df() read
    retry_limit: int = 0              # O6: re-enqueue error pages ≤ N times
                                      # (http.rb:217 retries / examples/error_handling.rb)
    max_waves: int | None = None      # safety stop for tests

    def whitelist_enabled(self) -> bool:
        return len(self.follow_links_like) > 0
