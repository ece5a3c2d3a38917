"""Deduplication operators for training-data pipelines.

Five dedup families over the ``documents`` table, all designed Spark-first:

  * **exact** — md5(text) groupBy; the cheap first pass.
  * **MinHash + LSH** — word-shingle → 60-bit md5 hashes → per-permutation
    min (Kirsch-Mitzenmacher style affine re-hash of one base hash, so no
    per-permutation text scan) → band signatures → bucket self-join for
    candidate pairs. The scale path: candidates ∝ collisions, never O(n²).
  * **n-gram Jaccard** — exact verify on LSH candidates (|A∩B| / |A∪B| via
    explode + groupBy, integer counts only).
  * **SimHash** — 16-bit sign-aggregated fingerprint (reference parity;
    equality join catches exact-ish dups) plus a 60-bit variant with a
    pigeonhole-banded Hamming-ball join (``simhash_near_pairs``).
  * **span / line dedup** — corpus-wide repeated-window and boilerplate-
    line removal with ordered reassembly.
  * **embedding cosine** — see similarity.py.
  * **connected components** — hash-min label propagation turning any pair
    set into canonical dedup groups (keeper = min id per component).

Everything is Column-tier (codegen), md5-based and integer-valued so each
operator has an exact DuckDB oracle. Permutation i of MinHash is
``(a_i * h + b_i) mod 2^61-1`` with a_i, b_i derived from md5(i) — the same
formula is reproducible in ANSI SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polipus_spark.functions.text import h60_str, word_ngrams, words

# MinHash arithmetic stays within int64 in BOTH engines (Spark ANSI mode and
# DuckDB raise on bigint overflow): 28-bit base hashes × 28-bit coefficients
# < 2^56, reduced mod the Mersenne prime 2^31-1.
MERSENNE31 = (1 << 31) - 1


def _popcount64(x):
    """Vectorized SWAR popcount over a numpy uint64 array (numpy 1.x has
    no ``bitwise_count``); used by the per-bucket Hamming kernels."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return ((x * h) >> np.uint64(56)).astype(np.int64)


def h28_str(col: Column) -> Column:
    """28-bit md5 hash (first 7 hex chars) — the MinHash base hash."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (lowercased)."""
    ws = words(text)
    n = F.size(ws)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", ws)))
    return F.array_distinct(grams)


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic 28-bit affine permutation coefficients from md5(i)."""
    import hashlib

    d = hashlib.md5(f"perm{i}".encode()).hexdigest()
    a = int(d[:7], 16) | 1  # odd
    b = int(d[7:14], 16)
    return a, b


def minhash_signature(text: Column, n_perm: int = 16, shingle_k: int = 3) -> Column:
    """Array of n_perm minhash values (bigint) for the document.

    The md5-hashed shingle array is computed ONCE per row and bound as a
    higher-order-function lambda variable (``transform(array(hashed), h ->
    ...)``) that all n_perm affine-min expressions reference. Referencing
    the hashed-array *expression* n_perm times instead would make
    CollapseProject inline a full md5-of-every-shingle pass into each copy —
    measured 121 s vs 8.9 s for the LSH pair join at sf0.1 (the same
    Catalyst common-subexpression trap as r3's hyperplane-sketch bomb, one
    layer down)."""
    hashed = F.transform(word_shingles(text, shingle_k), lambda s: h28_str(s))

    def mins(h: Column) -> Column:
        out = []
        for i in range(n_perm):
            a, b = perm_coeffs(i)
            out.append(
                F.array_min(
                    F.transform(h, lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31))
                )
            )
        return F.array(*out)

    return F.element_at(F.transform(F.array(hashed), mins), 1)


def minhash_signature_rows(
    docs: DataFrame,
    n_perm: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arrow-kernel realization of :func:`minhash_signature` →
    ``(id, _sig)`` — same values bit-for-bit (pinned by test; the Column
    expression stays the SPEC the SQL oracles mirror).

    Per batch, md5 is memoized per DISTINCT shingle (Zipf vocab → huge
    hit rate) and all ``n_perm`` affine mins come from one numpy
    broadcast ``(a·h + b) % M`` over the doc's distinct-hash vector —
    where the interpreted higher-order expression pays ~n_perm
    tree-walks per shingle per row. Same kernel-vs-spec pattern as
    ``text.hash_embed_rows``; ``re.ASCII`` pins tokenization parity.
    """
    import hashlib
    import re

    from pyspark.sql import types as T

    coeffs = np.array([perm_coeffs(i) for i in range(n_perm)],
                      dtype=np.int64)  # (n_perm, 2)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        out = []
        for t in texts:
            ws = [w for w in re.split(r"\s+", (t or "").lower(),
                                      flags=re.ASCII) if w]
            if len(ws) >= shingle_k:
                grams = {" ".join(ws[i:i + shingle_k])
                         for i in range(len(ws) - shingle_k + 1)}
            else:
                grams = {" ".join(ws)}
            hs = []
            for g in grams:
                h = cache.get(g)
                if h is None:
                    h = int(hashlib.md5(g.encode()).hexdigest()[:7], 16)
                    cache[g] = h
                hs.append(h)
            hv = np.asarray(hs, dtype=np.int64)
            # (n_perm, n_grams) affine re-hash, min per permutation —
            # exact: 28-bit hash × 28-bit coeff < 2^56 before the mod
            mins = ((coeffs[:, :1] * hv[None, :] + coeffs[:, 1:])
                    % MERSENNE31).min(axis=1)
            out.append(mins.tolist())
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("_sig")
    )


def shingle60_rows(text: Column, shingle_k: int = 3) -> Column:
    """Arrow-kernel realization of
    ``transform(word_shingles(text, k), g -> h60_str(g))`` → array<long>
    of the doc's DISTINCT 60-bit shingle hashes (set order is
    unspecified; every consumer aggregates, so only the SET matters —
    pinned by test against the Column spec, which stays what the SQL
    oracles mirror).

    Same kernel-vs-spec pattern (and the exact tokenization:
    ``re.ASCII`` split, ``str.lower``) as :func:`minhash_signature_rows`;
    the interpreted higher-order Column chain costs ~0.8 ms/doc while the
    memoized-md5 Python pass is ~20× cheaper — on the Jaccard path this
    kernel is the difference between the shingle pass and the join being
    the bottleneck."""
    import hashlib
    import re

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _gs(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        out = []
        for t in texts:
            ws = [w for w in re.split(r"\s+", (t or "").lower(),
                                      flags=re.ASCII) if w]
            if len(ws) >= shingle_k:
                grams = {" ".join(ws[i:i + shingle_k])
                         for i in range(len(ws) - shingle_k + 1)}
            else:
                grams = {" ".join(ws)}
            hs = []
            for g in grams:
                h = cache.get(g)
                if h is None:
                    h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                    cache[g] = h
                hs.append(h)
            out.append(hs)
        return pd.Series(out)

    return _gs(text)


def minhash_bands(sig: Column, n_bands: int = 4, rows_per_band: int = 4) -> list[Column]:
    """Band signature strings: band_i = concat of its rows' minhashes."""
    out = []
    for b in range(n_bands):
        parts = [
            F.slice(sig, b * rows_per_band + 1, rows_per_band)
        ]
        out.append(F.concat_ws("_", F.transform(parts[0], lambda x: x.cast("string"))))
    return out


def minhash_signature_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Minhash signature via explode + groupBy — the scale formulation.

    One md5 per (doc, distinct shingle) total; each permutation is a cheap
    affine min-aggregate (map-side partial aggregation, AQE-sized shuffle).
    Output: (id, m0..m{n_perm-1}). Same values as ``minhash_signature``.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("gram"),
    ).select("id", h28_str(F.col("gram")).alias("h"))
    aggs = []
    for i in range(n_perm):
        a, b = perm_coeffs(i)
        aggs.append(
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31)).alias(f"m{i}")
        )
    return sh.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    sig_form: str = "kernel",
) -> DataFrame:
    """MinHash-LSH candidate pairs: (id_a < id_b) sharing ≥1 band bucket.

    Shuffle profile at scale: one explode to (band, bucket, id) — cardinality
    n_docs × n_bands — then a groupBy-join on bucket; hot buckets are bounded
    because identical-text clusters collapse to one bucket per band.

    ``sig_form`` picks the signature dataflow (all three produce identical
    values — pinned by bit-equality tests):

      * ``"kernel"`` (default) — :func:`minhash_signature_rows`: Arrow
        batches, md5 memoized per distinct shingle, all permutations from
        one numpy broadcast — ~3-4× the Column form's throughput (r5:
        12.4 → ~4 s for the sf0.1 pair entry); same (id, 16-int) rows
        downstream.
      * ``"column"`` — :func:`minhash_signature` computes the
        whole signature inside one row (md5 pass bound once per row), then
        an explicit hash repartition on id materializes the (id, 16-int
        sig) rows before banding. The only data that ever crosses the wire
        is ~136 B per DOCUMENT; at 100 TB that shuffle is ~0.1 % of corpus
        bytes. Per-row memory is ∝ document length (a shingle array per
        row).
      * ``"agg"`` — :func:`minhash_signature_agg`, explode + partial-min
        aggregate: shuffles every (doc, shingle-hash) row — traffic ∝
        corpus bytes — but never widens a row; the safe path if single
        documents can reach GBs.
    """
    from polipus_spark.partitioning import spread

    docs = spread(docs)  # md5-per-shingle work must not serialize on one split
    n_perm = n_bands * rows_per_band
    if sig_form == "kernel":
        # Arrow kernel (bit-equality-pinned to the Column spec): one
        # memoized-md5 numpy pass per batch; the signature arrives as a
        # plan-node attribute, so banding references it for free.
        sigs = minhash_signature_rows(docs, n_perm, shingle_k,
                                      id_col, text_col)
        m = lambda i: F.element_at(F.col("_sig"), i + 1)  # noqa: E731
    elif sig_form == "column":
        # The repartition barrier does double duty: it materializes the
        # signature expression ONCE (the banding projection then references
        # a cheap attribute, not the md5 pipeline) and it spreads the rows
        # across the cluster even when the input had few splits.
        sigs = docs.select(
            F.col(id_col).alias("id"),
            minhash_signature(F.col(text_col), n_perm, shingle_k).alias("_sig"),
        ).repartition(F.col("id"))
        m = lambda i: F.element_at(F.col("_sig"), i + 1)  # noqa: E731
    elif sig_form == "agg":
        sigs = minhash_signature_agg(docs, id_col, text_col, n_perm, shingle_k)
        m = lambda i: F.col(f"m{i}")  # noqa: E731
    else:
        raise ValueError(f"unknown sig_form {sig_form!r}")
    bands = []
    for bnd in range(n_bands):
        cols = [
            m(i).cast("string")
            for i in range(bnd * rows_per_band, (bnd + 1) * rows_per_band)
        ]
        bands.append(F.concat_ws("_", *cols))
    banded = sigs.select(
        F.col("id"),
        F.posexplode(F.array(*bands)).alias("band", "bucket"),
    )
    # In-bucket pair enumeration via ONE groupBy instead of a banded
    # self-join: the self-join's two plan references each re-ran the whole
    # signature computation (r6: two ArrowEvalPython scans of the corpus in
    # the physical plan — guide §7.2 "duplicated subtrees"), and the join
    # shuffled the banded rows twice. Grouping (band, bucket) →
    # sorted id list → ordered in-bucket combinations produces the
    # identical (id_a < id_b, ≥1 shared bucket) pair set with ONE signature
    # pass and ONE exchange. Pair work is Σ|bucket|² either way; the
    # two-step explode streams the combinations so no task materializes a
    # bucket's full pair array.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2,
                        F.greatest(F.size("ids") - F.col("i") - 1, F.lit(0)))
            ).alias("id_b"),
        )
        .distinct()
    )
    return pairs


def build_minhash_store(
    docs: DataFrame,
    store_dir: str,
    n_perm: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persist the (id, m0..m{n_perm-1}) minhash signature table — durable
    state for INCREMENTAL dedup (new batch vs existing corpus), the shape
    production pipelines actually run: the corpus is deduped once, then
    every ingest wave probes the store instead of re-deduping 100 TB.

    The store is ~8·n_perm ≈ 130 B per document (<0.2 % of corpus bytes at
    typical doc sizes) and scalar-columnar, so probes scan it map-side with
    column pruning. ``mode="append"`` admits a batch's survivors after a
    round of :func:`incremental_dedup_pairs`."""
    minhash_signature_cols(docs, id_col, text_col, n_perm, shingle_k) \
        .write.mode(mode).parquet(store_dir)


def minhash_signature_cols(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, m0..m{n_perm-1}) signatures in the store layout, computed by
    the Arrow kernel (:func:`minhash_signature_rows` — bit-equal to the
    Column spec and to :func:`minhash_signature_agg`, which shuffles one
    row per (doc, shingle) where this is a spread map-only pass)."""
    from polipus_spark.partitioning import spread

    return minhash_signature_rows(
        spread(docs), n_perm, shingle_k, id_col, text_col
    ).select(
        "id", *[F.element_at(F.col("_sig"), i + 1).alias(f"m{i}")
                for i in range(n_perm)]
    )


def incremental_dedup_pairs(
    spark,
    new_docs: DataFrame,
    store_dir: str,
    n_bands: int = 4,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    min_matches: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    store_df: DataFrame | None = None,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """New-batch-vs-store near-dup pairs → (new_id, old_id, n_match).

    Both sides band their signatures (:func:`minhash_bands` layout); a
    collision in ≥1 band yields a candidate, and ``n_match`` — the number
    of agreeing minhash positions out of n_bands·rows_per_band, an unbiased
    Jaccard estimate scaled by n_perm — gates the pair (``min_matches``).

    Scale shape: the NEW side (one ingest wave) is broadcast ONLY when its
    row count is at most ``broadcast_max_rows`` (counted up front — the
    same size gate as ``fetch_wave``; r5 review flagged the ungated hint:
    a 10^8-doc ingest wave would OOM the driver). Under the gate the
    persisted store STREAMS map-side — a 10^9-document store is scanned
    (columns pruned to id + the 16 signature ints) but NEVER shuffled,
    and the only exchanges in the plan are over the batch's signatures
    and the collision pairs' distinct — both ∝ batch size, not store
    size. Over the gate it falls back to a plain (band, bucket)
    equi-join: both sides shuffle on the narrow banded key and AQE picks
    the strategy — never a driver-sized broadcast. For batch-vs-batch
    dedup of comparable sides use :func:`lsh_candidate_pairs` instead."""
    n_perm = n_bands * rows_per_band

    def _banded(sigs: DataFrame, id_out: str, m_out: str) -> DataFrame:
        bands = []
        for bnd in range(n_bands):
            cols = [
                F.col(f"m{i}").cast("string")
                for i in range(bnd * rows_per_band, (bnd + 1) * rows_per_band)
            ]
            bands.append(F.concat_ws("_", *cols))
        return sigs.select(
            F.col("id").alias(id_out),
            *[F.col(f"m{i}").alias(f"{m_out}{i}") for i in range(n_perm)],
            F.posexplode(F.array(*bands)).alias("band", "bucket"),
        )

    store = store_df if store_df is not None else spark.read.parquet(store_dir)
    new_sigs = minhash_signature_cols(new_docs, id_col, text_col, n_perm,
                                      shingle_k)
    old_b = _banded(store, "old_id", "m")
    new_b = _banded(new_sigs, "new_id", "nm")
    if new_docs.select(id_col).limit(broadcast_max_rows + 1).count() \
            <= broadcast_max_rows:
        new_b = F.broadcast(new_b)
    n_match = F.lit(0)
    for i in range(n_perm):
        n_match = n_match + (F.col(f"m{i}") == F.col(f"nm{i}")).cast("int")
    return (
        old_b.join(new_b, ["band", "bucket"])
        .where(F.col("old_id") != F.col("new_id"))
        .select("new_id", "old_id", n_match.cast("int").alias("n_match"))
        .distinct()
        .where(F.col("n_match") >= min_matches)
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact Jaccard for candidate pairs → (id_a, id_b, inter, union_n).

    Integer counts only; similarity = inter/union computed by the caller.
    Shingles are hashed to 60-bit ints BEFORE the intersection join — the
    shuffle key is 8 bytes instead of a ~25-byte gram string (~3× narrower
    exchange on the hottest stage); collision error is ≤ grams²/2^60 per
    doc pair (immaterial), and the oracle hashes identically so parity is
    exact, not approximate.

    Dataflow (r6): ``pairs`` is materialized once (localCheckpoint — its
    upstream is typically the whole LSH pass, and it feeds THREE plan
    references below), the corpus is semi-joined down to the ids that
    appear in any pair BEFORE the shingle explode (only pair participants
    ever need exact Jaccard — at production near-dup rates that is a few
    % of the corpus), and the exploded hashed-shingle frame is
    materialized once and reused by the intersection join AND both size
    lookups. Before this shape the physical plan re-ran the full
    explode+md5 pass four times (a, b, n_a, n_b — guide §7.2 duplicated
    subtrees).
    """
    from polipus_spark.partitioning import spread

    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias("_pid"))
        .union(pairs.select(F.col("id_b")))
        .distinct()
    )
    # spread the SCAN side before the semi-join (spread on a bare scan is
    # free to probe; probing a mid-plan AQE frame would execute its query
    # stages eagerly just to read the partition count)
    participants = spread(docs).join(
        ids, F.col(id_col) == F.col("_pid"), "left_semi"
    )
    sh = (
        participants
        .select(F.col(id_col).alias("id"),
                shingle60_rows(F.col(text_col), shingle_k).alias("_gs"))
        .select("id", F.explode("_gs").alias("g"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("id_a"), F.col("g"))
    b = sh.select(F.col("id").alias("id_b"), F.col("g"))
    inter = (
        pairs.join(a, "id_a").join(b, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a", "id_b", "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_n"),
        )
    )
    return out


def simhash16(text: Column) -> Column:
    """16-bit SimHash from word hashes (sign aggregation per bit)."""
    hs = F.transform(words(text), lambda w: h60_str(w))
    acc = F.lit(0)
    for bit in range(16):
        ones = F.size(
            F.filter(hs, lambda h: h.bitwiseAND(F.lit(1 << bit)) != 0)
        )
        zeros = F.size(hs) - ones
        acc = acc + F.when(ones > zeros, F.lit(1 << bit)).otherwise(F.lit(0))
    return acc.cast("bigint")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the undirected pair graph → (node, component),
    component = min node id reachable.

    Hash-min label propagation: every node repeatedly adopts the minimum
    label among itself and its neighbors until fixpoint. Per iteration: one
    equi-join of the (persisted) symmetric edge list against the K-column
    label frame + one groupBy-min — both narrow shuffles on the node key,
    with map-side partial min aggregation. Labels are eagerly
    localCheckpoint-ed each round so lineage stays flat; the fixpoint test
    is a `limit(1).count()` (first changed row only), so convergence costs
    one near-empty job, not a full scan.

    Rounds needed = graph diameter — near-dup components are tiny dense
    cliques (diameter ≤ 2-3), so this converges in a handful of rounds at
    any corpus size. For adversarial long-chain graphs swap in
    large-star/small-star (Kiveris et al.), which the same loop accommodates.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        msgs = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "component")
        new = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # r2 ADVICE: silent partial propagation would make downstream dedup
        # keep extra duplicates with no signal — surface it.
        import warnings

        warnings.warn(
            f"connected_components: fixpoint not reached within max_iter="
            f"{max_iter} (adversarial long-chain graph?); labels may be "
            "under-merged — raise max_iter or switch to large-star/small-star",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def near_dup_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, component) over ALL docs: near-dup clusters share a
    component (its min doc_id); singletons map to themselves."""
    cc = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


def dedup_near(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    survivor: str = "min_id", text_col: str = "text",
) -> DataFrame:
    """Drop near-duplicates: keep ONE doc per connected component of the
    pair graph; singletons always survive.

    ``survivor`` picks the kept copy:
      * ``"min_id"`` (default) — the component label itself; zero extra
        dataflow beyond the label join.
      * ``"best"`` (r5) — the highest-quality copy (most words,
        ``text_col`` pure-Column feature; id tiebreak) — the rule real
        curation pipelines use so the most complete version survives. One
        extra window over component partitions (tiny dense cliques — no
        skew)."""
    groups = near_dup_groups(docs, pairs, id_col)
    if survivor == "min_id":
        keep = groups.where(F.col("doc_id") == F.col("component")).select(
            F.col("doc_id").alias(id_col)
        )
    elif survivor == "best":
        from polipus_spark.functions.text import quality_features

        q = quality_features(F.col(text_col))
        scored = docs.select(
            F.col(id_col).alias("doc_id"), q["n_words"].alias("_nw")
        ).join(groups, "doc_id")
        w = Window.partitionBy("component").orderBy(
            F.desc("_nw"), F.col("doc_id"))
        keep = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("doc_id").alias(id_col))
        )
    else:
        raise ValueError(f"unknown survivor policy {survivor!r}")
    return docs.join(keep, id_col, "left_semi")


def fuzzy_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_pct: int = 70,
    n_bands: int = 4,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    survivor: str = "min_id",
) -> DataFrame:
    """The full fuzzy-dedup pass a training corpus gets, end to end:

      1. exact dedup (md5 groupBy — collapses byte-identical copies first so
         the expensive stages never see them);
      2. MinHash-LSH candidate pairs (collision-bounded, never n²);
      3. exact n-gram Jaccard verify ≥ ``jaccard_pct`` (integer ratio);
      4. connected components over verified pairs (hash-min propagation);
      5. keep one doc per component — min-id, or the highest-quality copy
         with ``survivor="best"`` (see :func:`dedup_near`).

    Every stage is the already-scale-audited operator; the composition adds
    no new shuffle shape. Returns the surviving rows of ``docs``.
    """
    # d1 feeds FOUR downstream consumers (LSH, the Jaccard shingle pass,
    # the component left-join, the final semi-join); without a
    # materialization barrier each re-runs the md5 window (r6: four
    # Exchange+Window subtrees over the corpus in one plan). The exact
    # survivors are a corpus-shaped frame, so this is one linear pass
    # cached, not a quadratic intermediate.
    d1 = dedup_exact(docs, id_col, text_col).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(d1, id_col, text_col, n_bands, rows_per_band,
                                shingle_k)
    j = ngram_jaccard(d1, pairs, id_col, text_col, shingle_k)
    verified = j.where(
        F.col("inter") * 100 >= F.col("union_n") * jaccard_pct
    ).select("id_a", "id_b")
    return dedup_near(d1, verified, id_col, survivor=survivor,
                      text_col=text_col)


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: md5(text) groups → (hash, n_dups, keeper_id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Return docs with duplicates removed (keeper = min id per text hash)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def simhash60_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 60,
    arrow: bool = True,
) -> DataFrame:
    """60-bit SimHash per doc — one shuffle of (id, 60-bit word hash) rows.

    60 bits (vs the reference-parity 16-bit ``simhash16``) is what makes
    Hamming-ball banding selective: a random 15-bit band collides at 2^-15,
    not 2^-4. The md5-derived word hashes are computed JVM-side; the sign
    aggregation runs as an Arrow ``applyInPandas`` numpy kernel per doc
    (bit-matrix popcount — same pattern as the Bloom bitmap kernels;
    ~2× faster end-to-end than the pure-Column explode at sf0.1, and the
    shuffle carries 1 row per word instead of ``n_bits`` per word).
    ``arrow=False`` keeps the pure-Column formulation: posexplode to
    (id, bit, ±1) + two narrow partial-agg sums — NOT 60 SUM(CASE)
    aggregate columns, whose Catalyst analysis costs tens of seconds per
    query (measured 43 s on a 2-row input). Docs with no word tokens get
    no row (mirrored by the SQL oracle). Output: (id, sh).
    """
    if arrow:
        from polipus_spark.partitioning import spread

        # Per-ROW kernel (r6): a doc's SimHash depends only on its own
        # words, so there is nothing to shuffle — the r5 formulation
        # shipped one row per word to a groupBy(id).applyInPandas whose
        # per-GROUP Python invocation (pandas frame construction per doc)
        # dominated the runtime. Here the 60-bit word hashes are computed
        # JVM-side (same md5 Column spec the oracle mirrors), cross to
        # Python as one Arrow list column, and the majority-bit fold is a
        # small numpy op per row inside a batched scalar pandas_udf. Zero
        # exchanges; docs with no word tokens are dropped up front (the
        # explode form produced no row for them).
        bits = np.arange(n_bits, dtype=np.uint64)

        @F.pandas_udf(T.LongType())
        def _sh(hv: pd.Series) -> pd.Series:
            out = []
            for hs in hv:
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                ones = ((h[:, None] >> bits) & 1).sum(axis=0)
                mask = (2 * ones > len(h)).astype(np.uint64)
                out.append(int((mask << bits).sum()))
            return pd.Series(out, dtype="int64")

        hashed = F.transform(words(F.col(text_col)), lambda w: h60_str(w))
        return (
            spread(docs)
            .select(F.col(id_col).alias("id"), hashed.alias("_hs"))
            .where(F.size("_hs") > 0)
            .select("id", _sh(F.col("_hs")).alias("sh"))
        )
    wh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.col(text_col))).alias("w"),
    ).select("id", h60_str(F.col("w")).alias("h"))
    signs = wh.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bits - 1}), "
                "b -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)"
            )
        ).alias("bit", "sign"),
    )
    per_bit = signs.groupBy("id", "bit").agg(F.sum("sign").alias("s"))
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0,
                   F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        ).cast("bigint").alias("sh")
    )


def simhash_near_pairs(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    persisted: list | None = None,
) -> DataFrame:
    """Pairs within Hamming distance ``k`` of each other's 60-bit SimHash.

    Pigeonhole banding: the 60 bits split into ``k+1`` contiguous bands —
    any pair differing in ≤ k bits must match EXACTLY on at least one band,
    so candidates come from an equi-join on the narrow (band, band_bits)
    key. With 15-bit bands (k=3) a random collision is 2^-15, so candidate
    volume tracks true near-dups, never n² (a 16-bit fingerprint with
    4-bit bands would collide at 1/16 per band — quadratic in disguise;
    that's why the near-join uses the 60-bit variant). Verification is one
    ``bit_count(xor) <= k`` — everything JVM-side Column math, no Python.
    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    # The signature frame feeds both sides of the self-join; persist it so
    # the 60-bit agg runs once. ``persisted`` follows the fetch_wave
    # pattern: pass a list to receive the handle and unpersist after
    # materializing the result (r2 ADVICE: without it, repeated calls in a
    # long-lived session accumulate cached RDDs until storage eviction).
    s = simhash60_agg(docs, id_col, text_col).persist()
    if persisted is not None:
        persisted.append(s)
    return hamming_near_pairs(s, n_bits=60, k=k)


def hamming_near_pairs(sigs: DataFrame, n_bits: int, k: int = 3) -> DataFrame:
    """Pairs within Hamming distance ``k`` over an ``n_bits`` integer
    fingerprint ``sh`` keyed by ``id`` — the pigeonhole banding behind
    text SimHash (60-bit): split the bits into k+1 contiguous
    bands, equi-join on (band, band_bits), verify with one
    ``bit_count(xor) <= k``. Band width should stay wide enough that a
    random collision is rare (see simhash_near_pairs' 15-bit discussion);
    with small n_bits the verify filter still guarantees correctness, the
    join just screens less. Output (id_a, id_b, hamming), id_a < id_b."""
    n_bands = k + 1
    if n_bits < n_bands:
        # a zero-width band matches EVERY row — the equi-join degenerates
        # to a cross join; refuse rather than quietly go quadratic
        raise ValueError(
            f"hamming_near_pairs: k={k} needs {n_bands} non-empty bands "
            f"but the fingerprint has only {n_bits} bits")
    widths = [n_bits // n_bands] * n_bands
    for i in range(n_bits % n_bands):
        widths[i] += 1
    shifts = [sum(widths[:i]) for i in range(n_bands)]

    s = sigs.select("id", "sh")
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sh"), shifts[b])
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .alias("bits"),
        )
        for b in range(n_bands)
    ])
    banded = s.select(
        "id", "sh", F.explode(bands).alias("_bb")
    ).select(
        "id", "sh",
        F.col("_bb.band").alias("band"), F.col("_bb.bits").alias("bits"),
    )
    # Per-BUCKET Arrow kernel for enumeration + verify (r6): the old
    # banded self-join re-ran the whole signature subtree per side and
    # shuffled every RAW candidate through a pre-verify distinct —
    # near-dup clusters make Σ|bucket|² large (tens of millions of pairs
    # per bucket on narrow fingerprints of 12–15 bits), so both
    # the shuffle and a per-pair interpreted popcount are the wrong tier.
    # Here each bucket's (id, sh) members arrive once via one groupBy,
    # the XOR popcount runs as block-wise vectorized numpy inside the
    # bucket, and only verified survivors leave the kernel; the closing
    # distinct dedupes the ≤ n_bands band copies. ``hamming`` is a pure
    # function of the pair, so post-filter dedup keeps the identical set.
    out_schema = T.StructType([
        T.StructField("id_a", banded.schema["id"].dataType),
        T.StructField("id_b", banded.schema["id"].dataType),
        T.StructField("hamming", T.IntegerType()),
    ])
    kk = k
    # bucket member lists come out of ONE JVM aggregate and the kernel is
    # mapInPandas over BUCKET ROWS — per-batch Python overhead, not
    # per-group (an applyInPandas per bucket costs ~0.2 ms each; narrow
    # fingerprints can have 10⁵+ buckets of size 2)
    grouped = (
        banded.select("id", "sh", "band", "bits")
        .groupBy("band", "bits")
        .agg(F.collect_list(F.struct("id", "sh")).alias("_ms"))
        .where(F.size("_ms") > 1)
        .select("band", "_ms")
    )

    def _buckets_hamming(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ia, ib, hm = [], [], []
            for band, ms in zip(pdf["band"], pdf["_ms"]):
                B = len(ms)
                ids = np.fromiter((m["id"] for m in ms), dtype=np.int64,
                                  count=B)
                sh_raw = np.fromiter((m["sh"] for m in ms), dtype=np.int64,
                                     count=B).astype(np.uint64)
                # GROUP COLLAPSE (r6): members with the same fingerprint
                # share every pairwise verdict, and near-dup corpora pile
                # thousands of identical fingerprints into one bucket —
                # pair WORK is S² over distinct values instead of B² over
                # members; only the (output-bound) id emission is B-sized.
                sh, ginv, gcnt = np.unique(sh_raw, return_inverse=True,
                                           return_counts=True)
                S = len(sh)
                gorder = np.argsort(ginv, kind="stable")
                gids = np.split(ids[gorder], np.cumsum(gcnt)[:-1])
                blk = max(1, (1 << 25) // S)
                for lo in range(0, S, blk):
                    hi = min(lo + blk, S)
                    X = sh[lo:hi, None] ^ sh[None, :]
                    H = _popcount64(X)
                    mask = H <= kk
                    # sh values are unique-sorted: group pair (g1 < g2)
                    # once, plus the g1 == g2 diagonal (intra-group pairs)
                    mask &= np.arange(S)[None, :] >= \
                        np.arange(lo, hi)[:, None]
                    ii, jj = np.nonzero(mask)
                    if not len(ii):
                        continue
                    # CANONICAL-BAND emission (replaces a global distinct
                    # over every duplicate): a pair leaves only the FIRST
                    # band whose bits match — earlier-band membership is a
                    # pure function of the XOR, so no cross-band exchange
                    # is needed to dedupe
                    xv = X[ii, jj]
                    keep = np.ones(len(ii), dtype=bool)
                    for b2 in range(int(band)):
                        keep &= ((xv >> np.uint64(shifts[b2]))
                                 & np.uint64((1 << widths[b2]) - 1)) != 0
                    hv = H[ii, jj]
                    for g1, g2, h in zip(ii[keep] + lo, jj[keep], hv[keep]):
                        va = gids[g1]
                        if g1 == g2:
                            if len(va) < 2:
                                continue
                            A, Bb = np.meshgrid(va, va, indexing="ij")
                            sel = Bb > A
                        else:
                            A, Bb = np.meshgrid(va, gids[g2], indexing="ij")
                            sel = np.ones(A.shape, dtype=bool)
                        lo_id = np.minimum(A[sel], Bb[sel])
                        hi_id = np.maximum(A[sel], Bb[sel])
                        ia.append(lo_id)
                        ib.append(hi_id)
                        hm.append(np.full(len(lo_id), h, dtype=np.int64))
            if ia:
                yield pd.DataFrame({
                    "id_a": np.concatenate(ia),
                    "id_b": np.concatenate(ib),
                    "hamming": np.concatenate(hm).astype(np.int32),
                })

    return grouped.mapInPandas(_buckets_hamming, out_schema)


def _dedup_units(
    docs: DataFrame,
    units: DataFrame,
    max_doc_freq: int,
    joiner: str,
    id_col: str,
) -> DataFrame:
    """Shared machinery for line/span dedup: units = (doc_id, pos, unit).

    Doc-frequency per md5(unit) (map-side partial agg, narrow shuffle on
    the 32-char hash), left_semi back to surviving units, reassemble in
    position order with array_sort(collect_list(struct)). Docs whose units
    all died come back with empty text (left join against the input)."""
    hashed = units.withColumn("_h", F.md5(F.col("unit")))
    rare = (
        hashed.groupBy("_h")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .where(F.col("_df") <= max_doc_freq)
        .select("_h")
    )
    kept = hashed.join(rare, "_h", "left_semi")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda s: s["unit"],
            ),
            joiner,
        ).alias("text")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


def dedup_spans(
    docs: DataFrame,
    span_words: int = 10,
    max_doc_freq: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide repeated-span removal (the fixed-window approximation of
    substring dedup à la "Deduplicating Training Data Makes Language Models
    Better"): the text splits into consecutive ``span_words``-word segments;
    any segment whose md5 occurs in more than ``max_doc_freq`` DISTINCT
    docs is boilerplate/duplication and is removed from every doc; the
    survivors re-join in order. Run exact/fuzzy doc-level dedup first —
    byte-identical docs would otherwise hollow each other out.
    Output: (doc_id, text) for every input doc (possibly shortened/empty).
    """
    ws = words(F.col(text_col))
    n_seg = F.ceil(F.size(ws) / F.lit(span_words)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(" ", F.slice(ws, i * span_words + 1, span_words)).alias("unit"),
        ),
    )
    units = (
        docs.where(F.size(ws) > 0)
        .select(F.col(id_col).alias("doc_id"), F.explode(spans).alias("_u"))
        .select("doc_id", F.col("_u.pos").alias("pos"), F.col("_u.unit").alias("unit"))
    )
    return _dedup_units(docs, units, max_doc_freq, " ", id_col)


def dedup_lines(
    docs: DataFrame,
    max_doc_freq: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style line-level dedup: newline-delimited lines occurring in
    more than ``max_doc_freq`` distinct docs (site boilerplate — headers,
    nav, footers) are dropped from every doc; blank lines are ignored."""
    units = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "unit"),
    ).where(F.trim(F.col("unit")) != "")
    return _dedup_units(docs, units, max_doc_freq, "\n", id_col)


def hash_embed_near_pairs(
    docs: DataFrame,
    dim: int = 60,
    k: int = 3,
    cos2_bps_min: int = 8100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Semantic near-dup pairs WITHOUT a precomputed embeddings table:
    text → in-engine feature-hashed embedding (``text.hash_embed``) →
    sign-pattern fingerprint (bit j = emb[j] > 0 — axis-aligned hyperplane
    LSH, the SimHash construction over hashed counts) → pigeonhole-banded
    Hamming join (``hamming_near_pairs``: k+1 contiguous bands, 15-bit
    bands at dim=60 so random collisions stay rare at corpus scale) →
    integer-exact squared-cosine verify on the candidates only:
    ``dot² · 10⁴ ≥ cos2_bps_min · |a|² · |b|²`` with dot > 0 — cosine
    thresholding with NO floats (both engines agree bit-for-bit; bounds:
    dot² ≤ |a|²|b|² ≤ n_words⁴ keeps everything inside int64 for docs up
    to ~50k words at the 10⁴ scale).

    Scale posture: the embedding + fingerprint are map-only Column folds
    (no explode, no shuffle); the only exchanges are the banded equi-join
    (candidates ∝ collisions, never O(n²)) and the two broadcast-size id
    joins pulling the embeddings onto the verified pairs. Zero-norm docs
    (empty text) are excluded before banding — an all-zero fingerprint
    would otherwise bucket-collide with every all-negative doc.

    Output: (id_a, id_b, hamming, cos2_bps), id_a < id_b.
    """
    from polipus_spark.functions.text import hash_embed_rows
    from polipus_spark.partitioning import spread

    n_bands = k + 1
    if dim < n_bands:
        raise ValueError(
            f"hash_embed_near_pairs: k={k} needs {n_bands} non-empty bands "
            f"but the fingerprint has only {dim} bits")

    # Arrow kernel for the embedding (hash_embed is the Column SPEC it is
    # bit-equality-pinned to): the interpreted dim-fold expression cost
    # ~3 ms/doc and — referenced by sig, n2, AND the verify dots — would
    # re-inline via CollapseProject. The kernel emits emb as a plan-node
    # ATTRIBUTE, so every downstream reference is free.
    e = hash_embed_rows(spread(docs), dim, id_col=id_col, text_col=text_col)
    # bit j of the fingerprint = sign of component j: fold the REVERSED
    # array so acc*2 accumulates component 0 into the LSB (dim <= 62 keeps
    # the fold inside signed int64 under ANSI mode)
    sig = F.aggregate(
        F.reverse(F.col("emb")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
    )
    n2 = F.aggregate(
        F.col("emb"), F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
    )
    s = e.select("id", "emb", sig.alias("sh"), n2.alias("n2")).where(
        F.col("n2") > 0
    )

    # Per-BUCKET Arrow kernel for candidate enumeration + verify (r6): a
    # single-topic corpus piles tens of thousands of docs into a few
    # pigeonhole buckets, so hamming candidates are Σ|bucket|² — 97M pairs
    # at sf1.0. The old shape paid three corpus-wide shuffles of that pair
    # stream (pre-verify distinct + two id joins attaching embeddings —
    # the id joins also carried the UNGATED corpus-sized F.broadcast
    # hints flagged by the r5 review: ~500 GB a side at 10⁹ docs). Here
    # each bucket's members arrive ONCE (one groupBy of the corpus-sized
    # signature frame), the XOR popcount and the int64 dot run as
    # block-wise numpy matmuls inside the bucket, and only verified
    # survivors leave the kernel; the closing distinct dedupes the ≤
    # n_bands band copies. All arithmetic is int64 — exact, same domain
    # bound as the Column form (docs to ~50k words at the 10⁴ scale).
    widths = [dim // n_bands] * n_bands
    for i in range(dim % n_bands):
        widths[i] += 1
    shifts = [sum(widths[:i]) for i in range(n_bands)]
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sh"), shifts[b])
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .alias("bits"),
        )
        for b in range(n_bands)
    ])
    banded = s.select(
        "id", "sh", "n2", "emb", F.explode(bands).alias("_bb")
    ).select("id", "sh", "n2", "emb",
             F.col("_bb.band").alias("band"), F.col("_bb.bits").alias("bits"))

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
        T.StructField("cos2_bps", T.LongType()),
    ])
    kk, thr = k, cos2_bps_min
    grouped = (
        banded.groupBy("band", "bits")
        .agg(F.collect_list(F.struct("id", "sh", "n2", "emb")).alias("_ms"))
        .where(F.size("_ms") > 1)
        .select("band", "_ms")
    )

    def _buckets_verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ia_out, ib_out, hm_out, c2_out = [], [], [], []
            for band, ms in zip(pdf["band"], pdf["_ms"]):
                B = len(ms)
                ids = np.fromiter((m["id"] for m in ms), dtype=np.int64,
                                  count=B)
                sh_raw = np.fromiter((m["sh"] for m in ms), dtype=np.int64,
                                     count=B).astype(np.uint64)
                n2_raw = np.fromiter((m["n2"] for m in ms), dtype=np.int64,
                                     count=B)
                # SH-GROUP COLLAPSE (r6): a near-dup bucket holds
                # thousands of members but few DISTINCT fingerprints (sf1:
                # 6.6k sh over 50k docs), so the Hamming stage runs S²
                # over distinct sh; the integer dot then runs as ONE
                # FLOAT64 BLAS matmul per passing sh-group pair (every
                # product/partial sum is an integer < 2^53 ⇒ exact
                # regardless of order; int64 matmul has no BLAS path).
                sh, ginv, gcnt = np.unique(sh_raw, return_inverse=True,
                                           return_counts=True)
                S = len(sh)
                gorder = np.argsort(ginv, kind="stable")
                bounds = np.concatenate(([0], np.cumsum(gcnt)))
                gids = [ids[gorder[bounds[g]:bounds[g + 1]]]
                        for g in range(S)]
                gE = [None] * S
                gn2 = [n2_raw[gorder[bounds[g]:bounds[g + 1]]]
                       for g in range(S)]

                def emb_of(g):
                    if gE[g] is None:
                        idx = gorder[bounds[g]:bounds[g + 1]]
                        gE[g] = np.stack(
                            [np.asarray(ms[i]["emb"], dtype=np.float64)
                             for i in idx])
                    return gE[g]

                X = sh[:, None] ^ sh[None, :]
                H = _popcount64(X)
                mask = H <= kk
                # group pair (g1 <= g2) once; diagonal = intra-group pairs
                mask &= np.arange(S)[None, :] >= np.arange(S)[:, None]
                gi, gj = np.nonzero(mask)
                if not len(gi):
                    continue
                # canonical-band emission (a pure function of the sh
                # XOR, constant per group pair) — replaces a global
                # distinct over the emitted pair stream
                xv = X[gi, gj]
                nodup = np.ones(len(gi), dtype=bool)
                for b2 in range(int(band)):
                    nodup &= ((xv >> np.uint64(shifts[b2]))
                              & np.uint64((1 << widths[b2]) - 1)) != 0
                gi, gj = gi[nodup], gj[nodup]
                hv = H[gi, gj][:]
                for g1, g2, h in zip(gi, gj, hv):
                    Ea = emb_of(g1)
                    n2a, ids_a = gn2[g1], gids[g1]
                    if g1 == g2:
                        if len(ids_a) < 2:
                            continue
                        D = np.rint(Ea @ Ea.T).astype(np.int64)
                        nn = n2a[:, None] * n2a[None, :]
                        keep = (D > 0) & (D * D * 10000 >= thr * nn)
                        keep &= np.arange(len(ids_a))[None, :] > \
                            np.arange(len(ids_a))[:, None]
                        ii, jj = np.nonzero(keep)
                        if not len(ii):
                            continue
                        lo_id = np.minimum(ids_a[ii], ids_a[jj])
                        hi_id = np.maximum(ids_a[ii], ids_a[jj])
                    else:
                        Eb = emb_of(g2)
                        n2b, ids_b = gn2[g2], gids[g2]
                        D = np.rint(Ea @ Eb.T).astype(np.int64)
                        nn = n2a[:, None] * n2b[None, :]
                        keep = (D > 0) & (D * D * 10000 >= thr * nn)
                        ii, jj = np.nonzero(keep)
                        if not len(ii):
                            continue
                        lo_id = np.minimum(ids_a[ii], ids_b[jj])
                        hi_id = np.maximum(ids_a[ii], ids_b[jj])
                    d = D[ii, jj]
                    c2 = d * d * 10000 // nn[ii, jj]
                    ia_out.append(lo_id)
                    ib_out.append(hi_id)
                    hm_out.append(np.full(len(lo_id), h, dtype=np.int64))
                    c2_out.append(c2)
            if ia_out:
                yield pd.DataFrame({
                    "id_a": np.concatenate(ia_out),
                    "id_b": np.concatenate(ib_out),
                    "hamming": np.concatenate(hm_out).astype(np.int32),
                    "cos2_bps": np.concatenate(c2_out),
                })

    return grouped.mapInPandas(_buckets_verify, out_schema)


def duplicated_window_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-duplication statistics, the distributed form of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") EXACTSUBSTR: every sliding n-word window of every document is

    (input spread to cluster parallelism first — the window explode + md5
    is CPU-dense per row and the docs scan is often one split)
    hashed; a window is *duplicated* when its gram occurs in >= 2 distinct
    documents. Returns ``(doc_id, n_windows, n_dup_windows)`` — the
    duplicated-window fraction is the caller's exact integer ratio, and a
    cut at e.g. 50% is the standard "drop the boilerplate-heavy copy" rule.

    Lee et al. build a corpus-wide suffix array (single-machine); the
    Spark-native equivalent is this windowed explode: shuffle the hashed
    grams once to count document frequency, then one equi-join back on the
    gram hash. Both exchanges are linear in total corpus tokens — never
    pairwise — and the doc-frequency side is pre-aggregated (map-side
    combine) before it moves. Windows shorter than ``n`` words fall back to
    the whole document (one window), so short exact dups still count.
    """
    from polipus_spark.partitioning import spread

    # spread the scan, materialize once: wins feeds THREE consumers
    # (doc-frequency, per-doc totals, the dup join) — each plan reference
    # otherwise re-runs the window explode + md5 (guide §7.2)
    wins = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                word_ngrams(F.col(text_col), n), lambda g: h60_str(g)
            )
        ).alias("h"),
    ).localCheckpoint(eager=True)
    dup_h = (
        wins.select("id", "h").distinct()
        .groupBy("h").agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= 2)
        .select("h")
    )
    per_doc = wins.groupBy("id").agg(F.count("*").alias("n_windows"))
    dup_per_doc = (
        wins.join(dup_h, "h", "left_semi")
        .groupBy("id").agg(F.count("*").alias("n_dup_windows"))
    )
    return (
        per_doc.join(dup_per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint")
            .alias("n_dup_windows"),
        )
    )


def remove_duplicated_windows(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The EXACTSUBSTR *transform* (Lee et al. 2022 remove duplicated
    substrings — :func:`duplicated_window_stats` is the stats half): every
    word position covered by ANY duplicated n-word window is dropped and
    the document is rebuilt from the surviving words (original order,
    single-space joined). Returns ``(doc_id, text, n_removed_words)`` for
    every input doc — text empty when everything was duplicated.

    Dataflow: windows → gram-hash doc-frequency (one linear groupBy) →
    duplicated windows join back (equi-join on the 60-bit hash) → covered
    word-position explode (≤ n rows per duplicated window) → anti-join on
    (id, word position) → ordered rebuild via array_sort(collect_list).
    Every exchange is linear in corpus tokens; the rebuild groupBy keys on
    the doc id, so partial aggregation keeps the shuffle narrow.

    Documents shorter than ``n`` words fall back to one whole-doc window
    (matching the stats function): an exact short dup scrubs to empty.
    """
    from polipus_spark.partitioning import spread

    ws = words(F.col(text_col))
    docs = spread(docs)
    # base feeds the doc-frequency pass AND the dup join-back — checkpoint
    # so the window explode + md5 runs once (guide §7.2)
    base = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(word_ngrams(F.col(text_col), n), h60_str)
        ).alias("pos", "h"),
    ).localCheckpoint(eager=True)
    dup_h = (
        base.select("id", "h").distinct()
        .groupBy("h").agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= 2)
        .select("h")
    )
    covered = (
        base.join(dup_h, "h", "left_semi")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + n)
            ).alias("wpos"),
        )
        .distinct()
    )
    doc_words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(ws).alias("wpos0", "w"),
    ).select("id", (F.col("wpos0") + 1).alias("wpos"), "w")
    kept = doc_words.join(covered, ["id", "wpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("_clean"),
        F.count("*").alias("_n_kept"),
    )
    n_words = docs.select(
        F.col(id_col).alias("id"), F.size(ws).cast("bigint").alias("_nw")
    )
    return (
        n_words.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_clean", F.lit("")).alias(text_col),
            (F.col("_nw") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed_words"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    min_cont_bps: int = 8000,
    shingle_k: int = 3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT — the case
    Jaccard-targeted MinHash structurally misses: a short doc quoted
    whole inside a long one has Jaccard ≈ |A|/|B| (tiny) but containment
    |A∩B|/min(|A|,|B|) ≈ 1. Broder's containment coefficient over
    distinct k-word shingles, exact integers end to end.

    Candidate generation joins docs on the 60-bit shingle hash directly,
    bounded by a document-frequency filter: shingles appearing in more
    than ``max_df`` docs are dropped before the self-join (the standard
    positional/prefix-filtering move — hot boilerplate shingles would
    otherwise emit df² candidate rows and carry no signal). Containment
    is then measured against the FILTERED shingle sets in both engines,
    so the threshold is self-consistent. Pair work is Σ_g df_g² bounded
    by max_df · Σ_g df_g — linear in corpus shingles times a constant,
    never all-pairs.

    Output: ``(id_a, id_b, inter, n_small, cont_bps)`` with id_a < id_b,
    ``cont_bps = inter · 10⁴ div min(|A|,|B|) >= min_cont_bps``.
    """
    from polipus_spark.partitioning import spread

    # One spread shingle60 kernel pass, materialized once: sh feeds the
    # df rollup AND the filtered frame, and shf feeds sizes + both join
    # sides — without the barriers each reference re-ran the whole
    # explode+md5 (guide §7.2; the kernel itself is the ~20× cheaper
    # realization of word_shingles+h60_str, pinned bit-equal by test).
    # shingle60_rows emits DISTINCT hashes per doc, so no row-level
    # distinct is needed.
    sh = (
        spread(docs)
        .select(F.col(id_col).alias("id"),
                shingle60_rows(F.col(text_col), shingle_k).alias("_gs"))
        .select("id", F.explode("_gs").alias("g"))
        .localCheckpoint(eager=True)
    )
    rare = (
        sh.groupBy("g").agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("g")
    )
    shf = sh.join(rare, "g", "left_semi").localCheckpoint(eager=True)
    sizes = shf.groupBy("id").agg(F.count("*").alias("n"))
    a = shf.select(F.col("id").alias("id_a"), "g")
    b = shf.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a")
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b")
        .withColumn("n_small", F.least("n_a", "n_b").cast("bigint"))
        .where(F.col("inter") * 10000 >= F.lit(min_cont_bps) * F.col("n_small"))
        .select(
            "id_a", "id_b", F.col("inter").cast("bigint").alias("inter"),
            "n_small",
            F.expr("div(inter * 10000, n_small)").cast("bigint")
            .alias("cont_bps"),
        )
    )


def cross_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_cont_bps: int = 8000,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy decontamination: corpus docs whose shingle overlap COVERS a
    benchmark item — the near-duplicate leakage that the exact 8-gram
    screen (:mod:`polipus_spark.functions.decontam`) misses when the
    benchmark text was lightly edited.

    Asymmetric Broder containment against the BENCHMARK's distinct
    shingle count: cont = |corpus ∩ bench| / |bench| — a benchmark item
    quoted (near-)whole inside a long training doc scores ~1 regardless
    of the doc's length, exactly the case Jaccard dilutes away. Exact
    integers end to end.

    Plan: the benchmark side is eval-set-sized, so its distinct shingles
    BROADCAST; the corpus side explodes map-side and probes with a
    broadcast equi-join on the 60-bit shingle hash — the corpus is never
    shuffled on text, only the narrow (corpus_id, bench_id) hit counts
    aggregate. No df filter needed: fan-out per corpus shingle is bounded
    by the benchmark's df, not the corpus's. Output:
    ``(doc_id, bench_id, inter, n_bench, cont_bps >= min_cont_bps)``."""
    from polipus_spark.partitioning import spread

    # shingle60 kernel (distinct per doc by construction) + spread on the
    # corpus side — the corpus explode+md5 was the whole cost of this
    # screen; bs is eval-set-sized and feeds two consumers, so it
    # materializes once.
    cs = (
        spread(corpus)
        .select(F.col(id_col).alias("doc_id"),
                shingle60_rows(F.col(text_col), shingle_k).alias("_gs"))
        .select("doc_id", F.explode("_gs").alias("g"))
    )
    bs = (
        spread(benchmark)
        .select(F.col(id_col).alias("bench_id"),
                shingle60_rows(F.col(text_col), shingle_k).alias("_gs"))
        .select("bench_id", F.explode("_gs").alias("g"))
        .localCheckpoint(eager=True)
    )
    bsizes = bs.groupBy("bench_id").agg(F.count("*").alias("n_bench"))
    inter = (
        cs.join(F.broadcast(bs), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(bsizes), "bench_id")
        .where(F.col("inter") * 10000 >= F.lit(min_cont_bps) * F.col("n_bench"))
        .select(
            "doc_id", "bench_id",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("n_bench").cast("bigint").alias("n_bench"),
            F.expr("div(inter * 10000, n_bench)").cast("bigint")
            .alias("cont_bps"),
        )
    )
