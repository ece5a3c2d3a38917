"""Workload definitions: generator parameters, crawl options and why each
workload exists. ``run.py --list`` prints this table as JSON."""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "crawl_bulk": {
        "kind": "crawl",
        "why": "data path: one fat wave with unlimited politeness and the "
               "exact tracker; fetch join with redirect hops, link "
               "extraction, anti-join, sequence sort and catalog appends",
        "corpus": {"n_hosts": 300, "max_docs": 2000},
        "seeds_per_host": 5,
        "extra_seeds": ["/r/0", "/x/0", "/missing/0"],
        "options": {"depth_limit": 1, "tracker_mode": "exact",
                    "compact_every_waves": None, "max_waves": 1},
    },
    "crawl_polite": {
        "kind": "crawl",
        "why": "per-wave fixed cost: a thin robots-budgeted wave, salted pop, "
               "Bloom tracker and a compaction after the wave",
        "corpus": {"n_hosts": 100, "max_docs": 60, "min_docs": 8},
        "seeds_per_host": 4,
        "options": {"obey_robots_txt": True, "per_host_budget": 4,
                    "salt_factor": 2, "tracker_mode": "bloom",
                    "bloom_capacity": 200_000, "bloom_error_rate": 1e-7,
                    "n_buckets": 8, "compact_every_waves": 1, "max_waves": 1},
    },
    "recrawl": {
        "kind": "recrawl",
        "why": "read/update path: a second session on a stored crawl with a "
               "grown corpus and a TTL that expires about half the pages",
        "corpus": {"n_hosts": 60, "max_docs": 300},
        "seeds_per_host": 2,
        "new_per_host": 2,
        "wave_clock_s": 10,
        "prep_waves": 3,
        "options": {"depth_limit": 3, "obey_robots_txt": True,
                    "tracker_mode": "exact", "compact_every_waves": 2,
                    "max_waves": 3},
    },
    "curate": {
        "kind": "curate",
        "why": "curation pipeline: quality, repetition, decontamination and "
               "fuzzy dedup over a text table with planted duplicate clusters",
        "corpus": {"n_docs": 5_000, "exact_clusters": 100,
                   "near_clusters": 100},
    },
}

# Set-ups per run: the first (on a cold JVM) only seeds a throwaway store,
# the last starts the timed session; setup_s reports the session build plus
# their median. recrawl sets up once (after session one).
SETUP_REPS = 2
