"""Deterministic synthetic crawl corpus (no wall-clock, no unseeded RNG).

Generates the ``pages(url, warc_ts, html, text, lang)`` table mandated by
the driver's input_hint, plus ``seeds`` and ``robots`` fixtures, as a
2-level site graph mirroring the reference's depth-1 crawl
(request_depth_max: 1, /root/reference/logs/spider_douban1.log:561):
list pages (the shape of /root/reference/urls_list.txt:1-10) each linking
``per_list`` detail pages.

Deliberate adversarial features:
* hosts drawn with Zipf-ish skew so the host_bucket salting path is real;
* some links appear in NON-canonical surface forms (shuffled query params,
  fragments, default ports) that must collapse to one fingerprint (D2);
* detail pages cross-link "related" items -> duplicate discoveries (D1);
* a ``/private/`` area that robots.txt denies (N4);
* dead links with no page behind them -> fetch_miss -> retry path (P4).

``pages.text`` is produced by the SAME ``kernels.html_to_text`` the engine
uses, so byte-identity is an exact invariant.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

from .kernels import html_to_text

_EPOCH = dt.datetime(2025, 3, 5, 12, 0, 0)
_GENRES = ["drama", "comedy", "action", "sci-fi", "crime", "romance", "war", "animation"]


@dataclass
class SiteSpec:
    """Parameterized site. Defaults give the reference-scale golden site:
    one host, 10 list pages x 25 details = 250 items (the Douban Top-250
    shape, ranks 1..250)."""

    n_hosts: int = 1
    lists_per_host: int = 10
    per_list: int = 25
    zipf_s: float = 1.2
    related_links: int = 2
    dead_links_per_host: int = 1
    private_hosts: int = 1          # first K hosts deny /private/*
    slow_hosts: int = 1             # first K hosts get crawl_delay=3.0 (DOWNLOAD_DELAY=3 analog)
    seed: int = 42
    hosts: list[str] = field(init=False)

    def __post_init__(self):
        self.hosts = [f"h{i:03d}.example.com" for i in range(self.n_hosts)]

    def host_lists(self, i: int) -> int:
        """Zipf-skewed list-page count per host (host 0 is the hot host)."""
        if self.n_hosts == 1:
            return self.lists_per_host
        w = (1.0 / (i + 1) ** self.zipf_s)
        return max(1, round(self.lists_per_host * self.n_hosts * w / sum(
            1.0 / (j + 1) ** self.zipf_s for j in range(self.n_hosts)
        )))


def _detail_url(host: str, rank: int) -> str:
    return f"https://{host}/item/{rank}"


def _list_url(host: str, start: int) -> str:
    return f"https://{host}/list?start={start}"


def _messy(url: str, rng: random.Random) -> str:
    """Emit a non-canonical surface form ~30% of the time (D2 exercise).
    Every variant canonicalizes back to ``url`` exactly: fragment added,
    default :443 port added, or host upper-cased."""
    r = rng.random()
    if r < 0.1:
        return url + "#frag"
    if r < 0.2:
        host = url.split("/")[2]
        return url.replace(host, host + ":443", 1)
    if r < 0.3:
        host = url.split("/")[2]
        return url.replace(host, host.upper(), 1)
    return url


def _list_html(host: str, page_i: int, detail_urls: list[str], extra_links: list[str]) -> bytes:
    lis = "\n".join(
        f'<li><a class="detail" href="{u}">entry {j}</a></li>'
        for j, u in enumerate(detail_urls)
    )
    extras = "\n".join(f'<a class="extra" href="{u}">more</a>' for u in extra_links)
    return (
        f"<html><head><title>{host} list {page_i}</title></head><body>\n"
        f"<h1>Top list page {page_i} of {host}</h1>\n"
        f'<ol class="grid_view">\n{lis}\n</ol>\n{extras}\n'
        f"<p>footer of {host} page {page_i}</p>\n</body></html>"
    ).encode("utf-8")


def _detail_html(host: str, rank: int, rng: random.Random, related: list[str]) -> bytes:
    name = f"Item {rank} of {host}"
    rate = round(7.5 + (rank * 2654435761 % 2200) / 1000.0, 1)
    num = 10_000 + (rank * 40503 % 3_190_000)
    genres = "/".join(rng.sample(_GENRES, k=2))
    rel = "\n".join(f'<a class="related" href="{u}">related</a>' for u in related)
    body = " ".join(
        rng.choice(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]) for _ in range(30)
    )
    return (
        f"<html><head><title>{name}</title></head><body>\n"
        f'<h1 class="name">{name}</h1>\n'
        f'<span class="rank">{rank}</span>\n'
        f'<span class="rate">{rate}</span>\n'
        f'<span class="num">{num}人评价</span>\n'
        f'<span class="genres">{genres}</span>\n'
        f'<p class="summary">{body}</p>\n{rel}\n</body></html>'
    ).encode("utf-8")


def generate_site(spec: SiteSpec) -> dict[str, list[dict]]:
    """Build the full corpus. Returns dict of row-lists:
    ``pages``, ``seeds``, ``robots``, plus ``expected_details`` (the golden
    record set) for test oracles."""
    rng = random.Random(spec.seed)
    pages: list[dict] = []
    seeds: list[dict] = []
    robots: list[dict] = []
    expected: list[dict] = []

    seed_seq = 0
    for hi, host in enumerate(spec.hosts):
        n_lists = spec.host_lists(hi)
        rank = 0
        host_rng = random.Random(spec.seed * 1_000_003 + hi)
        denies = ["/private/"] if hi < spec.private_hosts else []
        delay = 3.0 if hi < spec.slow_hosts else 1.0
        robots.append({"host": host, "deny_prefixes": denies, "crawl_delay": delay})

        all_ranks = list(range(1, n_lists * spec.per_list + 1))
        for li in range(n_lists):
            start = li * spec.per_list
            detail_ranks = all_ranks[start:start + spec.per_list]
            surface = [_messy(_detail_url(host, r), host_rng) for r in detail_ranks]
            extra = []
            if denies:
                extra.append(f"https://{host}/private/secret{li}")
            if li < spec.dead_links_per_host:
                extra.append(f"https://{host}/dead/{li}")
            html = _list_html(host, li, surface, extra)
            url = _list_url(host, start)
            pages.append(_page_row(url, html, hi, li))
            # seed priority mirrors the reference's high/medium/low by rank
            # range (/root/reference/scripts/add_urls_to_kafka.py:39-45)
            pri = 1 if start < n_lists * spec.per_list * 0.4 else (
                0 if start < n_lists * spec.per_list * 0.8 else -1)
            seeds.append({"url": url, "priority": pri, "seq": seed_seq})
            seed_seq += 1

            for r in detail_ranks:
                related = [
                    _detail_url(host, host_rng.randrange(1, len(all_ranks) + 1))
                    for _ in range(spec.related_links)
                ]
                dhtml = _detail_html(host, r, host_rng, related)
                durl = _detail_url(host, r)
                pages.append(_page_row(durl, dhtml, hi, 1000 + r))
                expected.append({"host": host, "rank": r, "url": durl})
        # the /private/ pages exist (so only robots keeps us out)
        for li in range(n_lists if denies else 0):
            purl = f"https://{host}/private/secret{li}"
            pages.append(_page_row(purl, b"<html><body>forbidden</body></html>", hi, 5000 + li))

    return {"pages": pages, "seeds": seeds, "robots": robots, "expected_details": expected}


def _page_row(url: str, html: bytes, hi: int, salt: int) -> dict:
    return {
        "url": url,
        "warc_ts": _EPOCH + dt.timedelta(seconds=(hi * 7919 + salt * 13) % 86_400),
        "html": html,
        "text": html_to_text(html),
        "lang": "zh" if hi % 3 == 0 else "en",
    }


def inflate_pages(pages_df, n_pad_words: int = 2000):
    """Distributed page inflation: pad every page to realistic
    Common-Crawl size (tens of KB) WITHOUT breaking the byte-identity
    invariant. A deterministic per-url word sequence is appended inside a
    final ``<p class="pad">...</p>`` block before ``</body>``; the same
    words are appended to ``text`` — so ``html_to_text(html) == text``
    still holds exactly (tags -> space, whitespace collapsed).

    Pure builtin expressions (sequence/transform/concat) — generation
    scales with executors, never through the driver.
    """
    from pyspark.sql import functions as F

    pad_words = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(n_pad_words)),
            lambda i: F.concat(
                F.lit("pad"), F.pmod(F.xxhash64(F.col("url")) + i, F.lit(997))
            ),
        ),
    )
    html_str = F.decode(F.col("html"), "utf-8")
    inflated_html = F.encode(
        F.replace(
            html_str,
            F.lit("</body>"),
            F.concat(F.lit('<p class="pad">'), pad_words, F.lit("</p></body>")),
        ),
        "utf-8",
    )
    inflated_text = F.concat(F.col("text"), F.lit(" "), pad_words)
    return pages_df.withColumn("html", inflated_html).withColumn("text", inflated_text)

