"""Seeded workload generators owned by the benchmark.

Nothing here imports the product package: a change to the crawler cannot
change the inputs it is measured on. Every generator is a pure function of
its parameters and the seed; ``write_docs`` stores the result as parquet in
the docs-table shape the crawler reads (doc_id, spans, host, code,
redirect_to).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_T = pa.struct([
    pa.field("kind", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), False),
])
DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(SPAN_T), False),
    pa.field("host", pa.string(), False),
    pa.field("code", pa.int32(), False),
    pa.field("redirect_to", pa.string()),
])
TEXT_ARROW = pa.schema([
    pa.field("doc_id", pa.int64(), False),
    pa.field("text", pa.string(), False),
])


def host_name(seed: int, i: int) -> str:
    return f"h{i}.s{seed}.bench.test"


def host_sizes(n_hosts: int, max_docs: int, min_docs: int, zipf_s: float) -> list[int]:
    """Zipf host sizes: rank 0 is the largest host."""
    return [max(min_docs, int(round(max_docs / (r + 1) ** zipf_s)))
            for r in range(n_hosts)]


def robots_body(crawl_delay: int) -> str:
    return (
        "User-Agent: otherbot\nDisallow: /\n\n"
        f"User-Agent: *\nDisallow: /private\nCrawl-delay: {crawl_delay}\n"
    )


def _doc(url: str, host: str, spans: list[dict], code: int = 200,
         redirect_to: str | None = None) -> dict:
    return {"doc_id": url, "spans": spans, "host": host, "code": code,
            "redirect_to": redirect_to}


def crawl_corpus(
    seed: int,
    n_hosts: int,
    max_docs: int,
    min_docs: int = 3,
    zipf_s: float = 1.1,
    links: tuple[int, int] = (2, 6),
    cross_frac: float = 0.1,
    dangling_frac: float = 0.03,
    redirect_frac: float = 0.04,
    private_frac: float = 0.05,
    media_frac: float = 0.15,
    robots_frac: float = 0.5,
    crawl_delays: tuple[int, ...] = (15, 20, 30),
) -> list[dict]:
    """A synthetic web. Each host has a root ``/`` and pages ``/p/<j>``; a
    few ``/private/<j>`` pages (denied by robots where a host serves one).
    Links appear as absolute, relative, fragment and query forms; a share
    points at other hosts (dropped by the domain filter), at pages that do
    not exist (error pages) or at redirect docs: ``/r/<j>`` same-host
    chains of one to three hops, and ``/x/<j>`` cross-host redirects that
    are not followed. Media spans interleave with text and carry no links.
    """
    rng = random.Random(seed)
    hosts = [host_name(seed, i) for i in range(n_hosts)]
    sizes = host_sizes(n_hosts, max_docs, min_docs, zipf_s)
    paths = {h: ["/"] + [f"/p/{j}" for j in range(1, n)]
             for h, n in zip(hosts, sizes)}
    n_private = {h: max(1, int(n * private_frac)) for h, n in zip(hosts, sizes)}
    n_redirect = {h: max(1, int(n * redirect_frac)) for h, n in zip(hosts, sizes)}
    docs: list[dict] = []

    def in_host_link(h: str) -> str:
        u = rng.random()
        if u < redirect_frac:
            kind = "r" if rng.random() < 0.75 else "x"
            return f"/{kind}/{rng.randrange(n_redirect[h])}"
        if u < redirect_frac + private_frac:
            return f"/private/{rng.randrange(n_private[h])}"
        if u < redirect_frac + private_frac + dangling_frac:
            return f"/missing/{rng.randrange(1_000_000)}"
        path = rng.choice(paths[h])
        form = rng.random()
        if form < 0.4:
            return path
        if form < 0.5:
            return path + "#sec"
        if form < 0.55:
            return path + "?ref=nav"
        return f"http://{h}{path}"

    def page_spans(h: str, url: str) -> list[dict]:
        spans: list[dict] = []
        offset = 0
        n_links = rng.randint(*links)
        per_span = max(1, (n_links + 1) // 2)
        is_media = rng.random() < media_frac
        while True:
            k = min(per_span, n_links)
            n_links -= k
            parts = [f"Text of {url} part {offset // 10}."]
            for _ in range(k):
                if rng.random() < cross_frac:
                    other = hosts[rng.randrange(n_hosts)]
                    tgt = f"http://{other}{rng.choice(paths[other])}"
                else:
                    tgt = in_host_link(h)
                parts.append(f'see <a href="{tgt}">link</a>')
            spans.append({"kind": "text", "text": " ".join(parts),
                          "media_ref": "", "offset": offset})
            offset += 10
            if n_links <= 0:
                break
            if is_media:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img://{h}/{offset}",
                              "offset": offset})
                offset += 10
        return spans

    for i, (h, n) in enumerate(zip(hosts, sizes)):
        for path in paths[h]:
            url = f"http://{h}{path}"
            docs.append(_doc(url, h, page_spans(h, url)))
        for j in range(n_private[h]):
            url = f"http://{h}/private/{j}"
            docs.append(_doc(url, h, page_spans(h, url)))
        for j in range(n_redirect[h]):
            hops = rng.randint(1, 3)
            for k in range(hops):
                src = f"http://{h}/r/{j}" + ("" if k == 0 else f"/{k}")
                dst = (f"http://{h}/r/{j}/{k + 1}" if k + 1 < hops
                       else f"http://{h}{rng.choice(paths[h])}")
                docs.append(_doc(src, h, [], code=301, redirect_to=dst))
            other = hosts[rng.randrange(n_hosts)]
            docs.append(_doc(f"http://{h}/x/{j}", h, [], code=302,
                             redirect_to=f"http://{other}/"))
        # robots.txt on a fixed share of hosts, spread evenly over the host
        # ranks, so politeness budgets do not depend on the seed
        if int((i + 1) * robots_frac) > int(i * robots_frac):
            body = robots_body(crawl_delays[i % len(crawl_delays)])
            docs.append(_doc(f"http://{h}/robots.txt", h, [
                {"kind": "text", "text": body, "media_ref": "", "offset": 0}]))
    return docs


def grow(docs: list[dict], seed: int, new_per_host: int = 2) -> list[dict]:
    """The same web one recrawl period later: every host root gains a span
    linking to ``new_per_host`` new pages ``/new/<j>``, which now exist."""
    rng = random.Random(seed + 1)
    out = []
    new_docs = []
    for d in docs:
        if d["doc_id"] == f"http://{d['host']}/" and d["code"] == 200:
            h = d["host"]
            links = " ".join(f'new <a href="/new/{j}">n{j}</a>'
                             for j in range(new_per_host))
            top = max((s["offset"] for s in d["spans"]), default=0)
            d = dict(d, spans=d["spans"] + [{
                "kind": "text", "text": f"Fresh: {links}", "media_ref": "",
                "offset": top + 10}])
            for j in range(new_per_host):
                new_docs.append(_doc(f"http://{h}/new/{j}", h, [{
                    "kind": "text",
                    "text": f'New page {j} ({rng.randrange(10**6)}) '
                            f'<a href="/">home</a>',
                    "media_ref": "", "offset": 0}]))
        out.append(d)
    return out + new_docs


def seed_urls(docs: list[dict], per_host: int,
              extra: tuple[str, ...] = ()) -> list[str]:
    """``per_host`` seeds a host: the root, then the ``extra`` paths (such
    as a redirect source or a missing page), then the first pages."""
    by_host: dict[str, list[str]] = {}
    for d in docs:
        if d["code"] == 200 and (d["doc_id"].endswith("/")
                                 or "/p/" in d["doc_id"]):
            by_host.setdefault(d["host"], []).append(d["doc_id"])
    out = []
    for h in sorted(by_host):
        urls = by_host[h][:1] + [f"http://{h}{p}" for p in extra] + by_host[h][1:]
        out += urls[:per_host]
    return out


# ---------------------------------------------------------------- curation
WORDS = (
    "river stone garden market winter harbor signal planet lantern orchard "
    "engine meadow silver canyon forest ribbon thunder valley copper island "
    "harvest mirror bridge compass feather glacier morning village shadow "
    "pepper marble circus velvet rocket saddle timber walnut blossom anchor "
    "basket candle dragon falcon hollow jigsaw kettle ladder magnet nectar "
    "oyster pillow quartz rumble spiral tunnel umbrella violet wagon yonder"
).split()


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def text_table(
    seed: int,
    n_docs: int,
    exact_clusters: int,
    near_clusters: int,
    cluster_size: tuple[int, int] = (2, 4),
    short_frac: float = 0.03,
    repeat_frac: float = 0.03,
    leak_frac: float = 0.02,
) -> tuple[list[dict], list[dict], dict[str, list[list[int]]]]:
    """(docs, benchmark, clusters): a text table of ``n_docs`` rows with
    planted exact-copy and near-duplicate clusters (one word swapped per
    copy), short docs, repetitive docs and docs that leak a benchmark
    passage. ``clusters`` lists the member ids of every planted cluster."""
    rng = random.Random(seed)
    bench_texts = [_sentence(rng, 16) for _ in range(20)]
    bench = [{"doc_id": 10**9 + i, "text": t} for i, t in enumerate(bench_texts)]
    docs: list[dict] = []
    clusters: dict[str, list[list[int]]] = {"exact": [], "near": []}

    def add(text: str) -> int:
        i = len(docs)
        docs.append({"doc_id": i, "text": text})
        return i

    for kind, n_clusters in (("exact", exact_clusters), ("near", near_clusters)):
        for _ in range(n_clusters):
            base = _sentence(rng, rng.randint(40, 80)).split()
            members = []
            for c in range(rng.randint(*cluster_size)):
                words = list(base)
                if kind == "near" and c:
                    words[rng.randrange(len(words))] = rng.choice(WORDS)
                members.append(add(" ".join(words)))
            clusters[kind].append(members)
    while len(docs) < n_docs:
        u = rng.random()
        if u < short_frac:
            add(_sentence(rng, 5))
        elif u < short_frac + repeat_frac:
            add((_sentence(rng, 4) + " ") * 15)
        elif u < short_frac + repeat_frac + leak_frac:
            add(_sentence(rng, 20) + " " + rng.choice(bench_texts) + " "
                + _sentence(rng, 20))
        else:
            add(_sentence(rng, rng.randint(40, 120)))
    return docs, bench, clusters


# --------------------------------------------------------------- storage
def write_docs(docs: list[dict], path: str, schema: pa.Schema = DOCS_ARROW,
               rows_per_file: int = 20_000) -> None:
    """Write ``docs`` as a parquet directory, atomically (rename at the end)
    so a killed run never leaves a half-written table behind."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for k in range(0, max(1, len(docs)), rows_per_file):
        table = pa.Table.from_pylist(docs[k:k + rows_per_file], schema=schema)
        pq.write_table(table, os.path.join(tmp, f"part-{k // rows_per_file:05d}.parquet"))
    os.replace(tmp, path)
