"""Pure-Python crawl-order oracle — reference scheduling semantics.

A single-threaded simulator of the contract the Spark engine implements
(priority-descending pop, per-host FIFO within priority class, politeness
budgets, robots deny, retry/exhaust, dedup-before-enqueue). It shares the
*pure* kernels (canonicalize/fingerprint/extract) with the engine but none
of the distributed code, so the order-parity and seen-set-parity tests
(SURVEY §5.4) compare two independent implementations of the same spec —
the pytest rewrite of scrapy-redis's test_queue/test_dupefilter/
test_scheduler suites demanded by the north_star.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlsplit

from .kernels import canonicalize_url, extract_page, url_fingerprint, url_host
from .scheduler import CrawlConfig, link_priority

S_ROUND = 1 << 32
S_PARENT = 1 << 12


@dataclass
class SimResult:
    fetch_sequence: list[tuple] = field(default_factory=list)  # (round, host, url)
    seen_urls: set = field(default_factory=set)
    results: dict = field(default_factory=dict)  # rank -> record dict
    statuses: dict = field(default_factory=dict)  # fp -> final status
    rounds: int = 0


def simulate(
    pages: dict[str, bytes],
    seeds: list[dict],
    robots: list[dict],
    cfg: CrawlConfig,
    max_rounds: int = 1000,
) -> SimResult:
    robots_map = {r["host"]: r for r in robots}
    frontier: dict[str, dict] = {}
    seen: set[str] = set()
    out = SimResult()

    # seed injection: canonicalize, dedup by fp keeping lowest seq
    for s in sorted(seeds, key=lambda x: x["seq"]):
        url = canonicalize_url(s["url"])
        fp = url_fingerprint(url)
        if fp in frontier:
            continue
        frontier[fp] = {
            "fp": fp, "url": url, "host": url_host(url),
            "priority": s["priority"], "depth": 0, "seq": s["seq"],
            "status": "queued", "retry": 0,
        }
        seen.add(fp)
        out.seen_urls.add(url)

    for rnd in range(max_rounds):
        queued = [r for r in frontier.values() if r["status"] == "queued"]
        if not queued:
            out.rounds = rnd
            break

        # robots deny (before budget — denied rows consume no budget)
        admissible = []
        for r in queued:
            rb = robots_map.get(r["host"])
            path = urlsplit(r["url"]).path or "/"
            if rb and any(path.startswith(p) for p in rb.get("deny_prefixes") or []):
                r["status"] = "robots_denied"
            else:
                admissible.append(r)

        # per-host pop window: priority DESC, seq ASC, fp ASC, top budget
        by_host: dict[str, list] = {}
        for r in admissible:
            by_host.setdefault(r["host"], []).append(r)
        sliced = []
        for host, rows in by_host.items():
            rb = robots_map.get(host)
            budget = cfg.host_budget(rb["crawl_delay"] if rb else None)
            rows.sort(key=lambda x: (-x["priority"], x["seq"], x["fp"]))
            for rn, r in enumerate(rows[:budget], start=1):
                sliced.append((rn, r))
        if cfg.max_urls_per_round is not None:
            sliced.sort(key=lambda t: (-t[1]["priority"], t[1]["seq"], t[1]["fp"]))
            sliced = sliced[: cfg.max_urls_per_round]
        if not sliced and not any(r["status"] == "robots_denied" for r in queued):
            out.rounds = rnd
            break

        fetched = []
        for rn, r in sliced:
            if r["url"] in pages:
                fetched.append((rn, r))
                r["status"] = "done"
            elif r["retry"] < cfg.max_retries - 1:
                r["retry"] += 1
                r["priority"] = 1  # P4: requeue at max priority
            else:
                r["retry"] += 1
                r["status"] = "exhausted"

        # per-round fetch-log order matches the engine's sort contract
        for rn, r in sorted(fetched, key=lambda t: (-t[1]["priority"], t[1]["seq"], t[1]["url"])):
            out.fetch_sequence.append((rnd, r["host"], r["url"]))

        # extract + emit + discover
        discovered: dict[str, dict] = {}
        for rn, r in fetched:
            page = extract_page(r["url"], pages[r["url"]])
            if (
                page["kind"] == "detail"
                and page["name"] is not None
                and page["rank"] is not None
                and page["rank"] >= 1
            ):
                rec = {
                    "rank": page["rank"], "name": page["name"], "rate": page["rate"],
                    "num": page["num"], "url": r["url"], "crawl_round": rnd,
                }
                prev = out.results.get(page["rank"])
                # upsert winner = latest round, lowest url on tie — the exact
                # window contract of FrontierStore.results_state
                if (
                    prev is None
                    or rnd > prev["crawl_round"]
                    or (rnd == prev["crawl_round"] and rec["url"] < prev["url"])
                ):
                    out.results[page["rank"]] = rec
            for link_idx, raw in enumerate(page["links"] or []):
                url = canonicalize_url(raw)
                if not url.startswith("http"):
                    continue
                depth = r["depth"] + 1
                if depth > cfg.max_depth:
                    continue
                fp = url_fingerprint(url)
                seq = (rnd + 1) * S_ROUND + rn * S_PARENT + link_idx
                cand = {
                    "fp": fp, "url": url, "host": url_host(url),
                    "priority": link_priority(url),
                    "depth": depth, "seq": seq, "status": "queued", "retry": 0,
                }
                old = discovered.get(fp)
                if old is None or (seq, url) < (old["seq"], old["url"]):
                    discovered[fp] = cand
        for fp, cand in discovered.items():
            if fp not in seen:
                seen.add(fp)
                out.seen_urls.add(cand["url"])
                frontier[fp] = cand
    else:
        out.rounds = max_rounds

    out.statuses = {fp: r["status"] for fp, r in frontier.items()}
    return out
