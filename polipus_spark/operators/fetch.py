"""S4 simulated fetch + J5 redirect resolution.

The reference fetches over HTTP with a keep-alive pool and follows up to
``redirect_limit`` (5) same-host redirects, emitting one Page per hop and
keeping the final one with prior hops as ``aliases``
(/root/reference/lib/polipus/http.rb:161-182, lib/polipus.rb:203-213).

Here "the web" is the ``docs`` corpus table. It does not change during a
session, so ``redirect_map`` resolves every chain once, from its start URL.
Cross-host redirects are NOT followed (F12, http.rb:276-278) — the 3xx page
itself becomes final. Per wave, ``resolve_redirects`` looks each popped URL
up in that map and ``fetch_wave`` joins docs once, on the final URL: a hit
is a fetched page with the doc's spans; a miss is an error page (the
reference's unreachable-host case, http.rb:215-222): fetched=false, error
set, no spans. No per-row Python and no per-hop loop; ``response_time`` is
a deterministic function of the final URL so runs are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polipus_spark.functions.urls import h60, url_host

SIM_ERROR = "connection refused (simulated)"


def redirect_map(docs: DataFrame, redirect_limit: int = 5) -> DataFrame:
    """``(_r_url, _r_final, _r_aliases)``: for each same-host 3xx doc, where
    its chain of at most ``redirect_limit`` hops ends and the URLs it passed
    through. One lazy plan: the redirect edges, then ``redirect_limit - 1``
    left joins over them, each following one more hop where the current
    final URL is itself a same-host redirect (a cycle keeps going round, as
    the reference's bounded loop does). ``redirect_limit`` 0 maps nothing."""
    edges = docs.where(
        F.lit(redirect_limit > 0)
        & F.col("code").between(300, 399)
        & F.col("redirect_to").isNotNull()
        # F12: follow only same-host redirects (http.rb:276-278)
        & (url_host(F.col("redirect_to")) == url_host(F.col("doc_id")))
    ).select(F.col("doc_id").alias("_e_src"), F.col("redirect_to").alias("_e_dst"))
    m = edges.select(
        F.col("_e_src").alias("_r_url"),
        F.col("_e_dst").alias("_r_final"),
        F.array("_e_src").alias("_r_aliases"),
    )
    for _ in range(redirect_limit - 1):
        hop = F.col("_e_src").isNotNull()
        m = m.join(edges, F.col("_r_final") == F.col("_e_src"), "left").select(
            "_r_url",
            F.when(hop, F.col("_e_dst")).otherwise(F.col("_r_final")).alias("_r_final"),
            F.when(hop, F.array_append("_r_aliases", F.col("_r_final")))
            .otherwise(F.col("_r_aliases")).alias("_r_aliases"),
        )
    return m


def resolve_redirects(wave: DataFrame, redirects: DataFrame) -> DataFrame:
    """J5 lookup: one left join of the wave to the session's
    ``redirect_map`` adds ``final_url`` (the ``url`` itself when it starts
    no same-host redirect) and its ``aliases`` (empty then)."""
    return (
        wave.join(redirects, F.col("url") == F.col("_r_url"), "left")
        .withColumn("final_url", F.coalesce(F.col("_r_final"), F.col("url")))
        .withColumn("aliases", F.coalesce(
            F.col("_r_aliases"), F.array().cast("array<string>")))
        .drop("_r_url", "_r_final", "_r_aliases")
    )


def fetch_wave(
    wave: DataFrame,
    docs: DataFrame,
    logical_now: int = 0,
    wave_rows: int | None = None,
    broadcast_max_rows: int = 250_000,
) -> DataFrame:
    """Input: popped frontier rows through ``resolve_redirects`` (url,
    final_url, aliases). Output: one row per input with code, spans,
    redirect_to, fetched, error, response_time and fetched_at added from the
    docs row at ``final_url``.

    ``wave_rows`` is the caller's known row count for the popped wave. When
    it is known and at most ``broadcast_max_rows`` — politeness-budgeted
    waves, the common case — the wave's final URLs are broadcast into the
    docs scan. Wave LEFT JOIN docs would shuffle the (huge) corpus, and Spark
    cannot broadcast the PRESERVED side of an outer join (a broadcast(wave)
    right_outer hint is silently dropped → SortMerge), so it is decomposed:
    a LEFT SEMI broadcast join streams the corpus once, without a shuffle,
    and keeps the docs this wave reads (wave-sized, as the gate bounds the
    wave); the wave then left-joins those as a shuffled hash join of two
    wave-sized sides, so page spans never ride a broadcast. Nothing is
    materialized. Unknown or larger waves take the plain shuffled left join
    so an unlimited-budget multi-GB wave can never OOM the driver.
    """
    d = docs.select(
        F.col("doc_id").alias("_d_url"),
        F.col("code").alias("_d_code"),
        F.col("spans").alias("_d_spans"),
        F.col("redirect_to").alias("_d_redirect"),
    )
    if wave_rows is not None and wave_rows <= broadcast_max_rows:
        urls = wave.select(F.col("final_url").alias("_w_url"))
        d = d.join(F.broadcast(urls), F.col("_d_url") == F.col("_w_url"),
                   "left_semi").hint("shuffle_hash")
    fetched = F.col("_d_url").isNotNull()
    return (
        wave.join(d, F.col("final_url") == F.col("_d_url"), "left")
        .withColumn("fetched", fetched)
        .withColumn("code", F.col("_d_code"))
        .withColumn("spans", F.col("_d_spans"))
        .withColumn("redirect_to", F.col("_d_redirect"))
        .withColumn("error", F.when(~fetched, F.lit(SIM_ERROR)))
        .withColumn(
            "response_time", F.pmod(h60(F.col("final_url")), F.lit(1000)).cast("int")
        )
        .withColumn("fetched_at", F.lit(logical_now).cast("bigint"))
        .drop("_d_url", "_d_code", "_d_spans", "_d_redirect")
    )
