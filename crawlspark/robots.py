"""robots.txt parsing — derive the broadcast ROBOTS table from the corpus.

The reference fetches and parses robots.txt per domain with stdlib
``urllib.robotparser`` and default-allows on failure
(/root/reference/utils/robots_parser.py:43-109, default crawl delay 1 s
at :108-109). This module is the batch analog: the Common-Crawl-style
corpus already CONTAINS each host's ``/robots.txt`` page, so one
distributed Arrow pass parses them — with the SAME stdlib parser — into
the tiny (host, deny_prefixes, crawl_delay) table the scheduler
broadcasts (scheduler.with_robots).

Supported subset, loudly enforced: the admission filter is prefix-deny
(Disallow lines for the configured agent). Allow-overrides and wildcard
patterns are NOT modeled; a robots.txt using them raises by default so
the engine never silently mis-enforces politeness (pass
``strict=False`` to keep such hosts with their plain Disallow prefixes).
"""

from __future__ import annotations

import urllib.robotparser
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import host_col

_ROBOTS_OUT = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("deny_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)


def parse_robots_txt(
    content: str, user_agent: str = "*", strict: bool = True
) -> tuple[list[str], float | None]:
    """(deny_prefixes, crawl_delay) for one robots.txt body — pure Python,
    shared by the Spark kernel and tests. Uses stdlib urllib.robotparser
    (the reference's parser), then extracts the raw Disallow prefixes of
    the entry that applies to ``user_agent``."""
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(content.splitlines())
    # Entry selection MUST use the stdlib's own matching rule
    # (Entry.applies_to: lowercase + product-token substring) — exact
    # string equality would let a versioned agent ('Bot/1.0') take deny
    # prefixes from the '*' entry while rp.crawl_delay() reads its
    # specific entry, mis-enforcing politeness. Both prefixes and delay
    # are read from the SAME entry below.
    entry = next((e for e in rp.entries if e.applies_to(user_agent)), None)
    if entry is None:
        entry = rp.default_entry
    from urllib.parse import unquote

    prefixes: list[str] = []
    if entry is not None:
        for line in entry.rulelines:
            # stdlib percent-encodes rule paths ('*' -> '%2A'); compare and
            # emit in unquoted form, matching the scheduler's parse_url PATH
            path = unquote(getattr(line, "path", ""))
            if line.allowance and path not in ("", "/*", "*"):
                # an Allow override narrows a Disallow — outside the
                # prefix-deny subset the scheduler enforces
                if strict:
                    raise ValueError(
                        f"robots.txt uses Allow override ({path!r}) — outside "
                        "the prefix-deny subset; pass strict=False to ignore"
                    )
                continue
            if not line.allowance:
                if ("*" in path or "$" in path) and strict:
                    raise ValueError(
                        f"robots.txt uses wildcard pattern ({path!r}) — outside "
                        "the prefix-deny subset; pass strict=False to ignore"
                    )
                if path:
                    prefixes.append(path.split("*", 1)[0] if "*" in path else path)
    # read the delay from the SELECTED entry, not via rp.crawl_delay():
    # identical by construction (crawl_delay applies the same applies_to
    # scan), but keeps prefixes and delay from one entry even if the
    # stdlib's matching rule ever drifts
    delay = entry.delay if entry is not None else None
    return prefixes, (float(delay) if delay is not None else None)


def robots_from_pages(
    pages: DataFrame, user_agent: str = "*", strict: bool = True
) -> DataFrame:
    """Distributed derivation of the ROBOTS table from the corpus's own
    ``/robots.txt`` pages: one Arrow pass over the (tiny, one-per-host)
    robots subset. Hosts with an unfetchable/absent robots.txt simply
    have no row — the scheduler default-allows them (with_robots left
    join), matching the reference's default-allow on fetch failure."""
    rpages = pages.filter(
        F.parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).select(host_col(F.col("url")).alias("host"), "html")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, denies, delays = [], [], []
            for h, raw in zip(pdf["host"], pdf["html"]):
                body = (
                    raw if isinstance(raw, (bytes, bytearray)) else bytes(raw)
                ).decode("utf-8", errors="replace")
                prefixes, delay = parse_robots_txt(body, user_agent, strict)
                hosts.append(h)
                denies.append(prefixes)
                delays.append(delay)
            yield pd.DataFrame(
                {"host": hosts, "deny_prefixes": denies, "crawl_delay": delays}
            )

    return rpages.mapInPandas(_run, schema=_ROBOTS_OUT)


def sitemap_urls(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Sitemap discovery: (host, sitemap_url) from the corpus' own
    ``/robots.txt`` pages — the frontier bootstrap every big crawl seeds
    from (Sitemap: lines are robots.txt spec; stdlib robotparser exposes
    them as ``site_maps()``, the reference never reads them). Feed the
    output to crawl.ingest_urls as high-priority seeds.

    Pure column algebra, no Python: the robots filter + a
    case-insensitive regexp_extract_all run inside scan codegen, one
    explode, one distinct hash-agg (a host's robots.txt repeats across
    snapshots; duplicates collapse map-side). Per robots.txt spec the
    field name is case-insensitive and the URL absolute."""
    is_robots = F.col(url_col).rlike(r"^https?://[^/]+/robots\.txt$")
    maps = F.expr(
        f"regexp_extract_all({text_col}, "
        r"'(?i)sitemap:[ \\t]*([^ \\t\\r\\n]+)', 1)"
    )
    return (
        pages.filter(is_robots)
        .select(host_col(F.col(url_col)).alias("host"),
                F.explode(maps).alias("sitemap_url"))
        .distinct()
    )


def sitemap_entries(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Sitemap PARSING — the complement of :func:`sitemap_urls` (which
    only DISCOVERS sitemap locations from robots.txt): extract the
    ``<loc>`` URL entries from fetched sitemap XML bodies, i.e. turn a
    crawled sitemap page into frontier seed URLs. Together they close
    the bootstrap loop: robots.txt -> sitemap_urls -> fetch -> this ->
    crawl.ingest_urls. The reference never reads sitemaps at all; at
    corpus scale the whole extraction is one declarative pass.

    Input: pages (url, text) where text holds the raw XML of pages whose
    path looks like a sitemap (``sitemap*.xml``, per the de-facto naming
    the spec's examples use); non-sitemap pages are filtered out. Output
    one row per distinct (host, sitemap_url, loc): the host serving the
    sitemap, the sitemap page itself, and an entry URL. <loc> values are
    whitespace-trimmed per spec; both <url> and <sitemap> (index files)
    entries match, so nested sitemap indexes feed back through the same
    operator.

    Shape: page filter + case-insensitive regexp_extract_all inside scan
    codegen (no Python), one explode, one distinct hash-agg —
    within-snapshot repeat entries collapse map-side.
    """
    from .urlfilter import host_col

    is_sitemap = F.col(url_col).rlike(
        r"^https?://[^/]+[^?#]*sitemap[^/?#]*\.xml$"
    )
    locs = F.expr(
        f"regexp_extract_all({text_col}, "
        r"'(?i)<loc>[ \\t\\r\\n]*([^< \\t\\r\\n]+)[ \\t\\r\\n]*</loc>', 1)"
    )
    return (
        pages.filter(is_sitemap)
        .select(
            host_col(F.col(url_col)).alias("host"),
            F.col(url_col).alias("sitemap_url"),
            F.explode(locs).alias("loc"),
        )
        .distinct()
    )


def sitemap_coverage(
    pages: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    crawled_url_col: str = "url",
) -> DataFrame:
    """Sitemap-vs-crawl completeness card: per host, how many of the
    URLs it ADVERTISES in its fetched sitemaps (``<loc>`` entries,
    :func:`sitemap_entries`) actually exist in the crawled corpus — the
    audit that closes the bootstrap loop from the other side
    (sitemap_urls/sitemap_entries SEED the frontier; this measures what
    the crawl did with the advertisement). Low coverage on a high-value
    host = frontier starvation or admission caps biting; advertised
    URLs the corpus lacks are exactly the re-seed list. The reference
    never reads sitemaps at all (robots_parser.py stops at allow/deny).

    Shape: the advertised set is bounded by sitemap bodies (a corpus
    subset); membership is ONE left join against the distinct crawled
    urls (un-hinted — AQE broadcasts a small crawl, shuffle-joins a
    10^10-URL one) folded into ONE per-host hash-agg — the advertised
    relation is consumed once, no second pass. Output: (host,
    n_advertised, n_crawled, n_uncrawled, coverage) with coverage
    rounded to 6 dp.
    """
    # distinct per (host, loc): the same URL advertised from several
    # sitemap pages of one host (index + leaf) counts once
    adv = sitemap_entries(pages, url_col, text_col).select(
        "host", "loc"
    ).distinct()
    hits = crawled.select(
        F.col(crawled_url_col).alias("loc")
    ).distinct().withColumn("_hit", F.lit(1))
    flagged = adv.join(hits, "loc", "left")
    return (
        flagged.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_advertised"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_crawled"),
        )
        .select(
            "host",
            "n_advertised",
            "n_crawled",
            (F.col("n_advertised") - F.col("n_crawled")).alias("n_uncrawled"),
            F.round(
                F.col("n_crawled").cast("double") / F.col("n_advertised"), 6
            ).alias("coverage"),
        )
    )


def sitemap_lastmod(
    pages: "DataFrame", url_col: str = "url", text_col: str = "text"
) -> "DataFrame":
    """Sitemap <lastmod> freshness extraction — the third leg of the
    sitemap plane (:func:`sitemap_urls` discovers, :func:`sitemap_entries`
    seeds, this PRIORITIZES): per sitemap ``<url>`` block, the entry URL
    with its declared last-modification date, so frontier admission can
    rank fresh pages first and :func:`crawlspark.scheduler.revisit_schedule`
    gets a server-declared change signal for urls with no fetch history.

    Input/filter contract matches sitemap_entries (pages whose url looks
    like ``sitemap*.xml``). One row per distinct (host, loc,
    lastmod_date); blocks without a <lastmod> are dropped — absence is
    not a date, and the no-date entries already flow via
    sitemap_entries. Dates parse from the leading YYYY-MM-DD of the W3C
    datetime the spec mandates (full datetimes truncate to the day, the
    granularity revisit policy works at).

    Scale shape: page filter + case-insensitive regexp_extract_all of
    whole <url> blocks in scan codegen, one explode, per-block
    regexp_extract projections, one distinct hash-agg — within-snapshot
    repeats collapse map-side. No Python.
    """
    from pyspark.sql import functions as F

    from .urlfilter import host_col

    is_sitemap = F.col(url_col).rlike(
        r"^https?://[^/]+[^?#]*sitemap[^/?#]*\.xml$"
    )
    blocks = F.expr(
        f"regexp_extract_all({text_col}, '(?is)<url>(.*?)</url>', 1)"
    )
    b = F.col("_b")
    loc = F.trim(F.regexp_extract(b, r"(?is)<loc>\s*([^<]*?)\s*</loc>", 1))
    lastmod = F.regexp_extract(
        b, r"(?is)<lastmod>\s*(\d{4}-\d{2}-\d{2})", 1
    )
    return (
        pages.filter(is_sitemap)
        .select(
            host_col(F.col(url_col)).alias("host"),
            F.explode(blocks).alias("_b"),
        )
        .select(
            "host",
            loc.alias("loc"),
            F.to_date(F.nullif(lastmod, F.lit(""))).alias("lastmod_date"),
        )
        .filter(F.col("loc").isNotNull() & (F.col("loc") != "")
                & F.col("lastmod_date").isNotNull())
        .distinct()
    )


def robots_directive_stats(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Corpus-wide robots.txt audit: per host, how many Allow/Disallow
    rules it publishes, whether it blanket-blocks (``Disallow: /``),
    its Crawl-delay, and how many sitemaps it advertises — the
    frontier-planning card a large crawl computes BEFORE spending
    budget on a host (a blanket-blocked host's queued URLs are dead
    weight; a 60 s crawl-delay host can never yield more than
    1 URL/min no matter the cluster size). The reference consults
    robots per-request (scrapy's RobotsTxtMiddleware); corpus-scale
    planning wants the whole relation at once.

    Pure column algebra in scan codegen: line-anchored
    case-insensitive regexp_counts (an ``X-Disallow:`` decoy or a
    mid-line mention cannot trip them — the t74 header-anchoring
    rule), first-match Crawl-delay via try_cast (a malformed delay
    becomes NULL, never an ANSI throw), one distinct-collapsing
    hash-agg per host (snapshots repeat; max() keeps the audit
    deterministic if a host's robots body varies across captures).
    Output: (host, n_allow, n_disallow, n_sitemaps, crawl_delay,
    blanket_block).
    """
    from .urlfilter import host_col

    t = F.col(text_col)
    is_robots = F.col(url_col).rlike(r"^https?://[^/]+/robots\.txt$")
    # column API (not a string-formatted F.expr): survives column names
    # that would need backticks, matches the module's style
    delay = F.regexp_extract(
        t, r"(?im)^crawl-delay[ \t]*:[ \t]*([0-9.]+)", 1
    ).try_cast("double")
    base = pages.filter(is_robots).select(
        host_col(F.col(url_col)).alias("host"),
        F.regexp_count(t, F.lit(r"(?im)^allow[ \t]*:")).cast("long").alias(
            "n_allow"
        ),
        F.regexp_count(t, F.lit(r"(?im)^disallow[ \t]*:"))
        .cast("long")
        .alias("n_disallow"),
        F.regexp_count(t, F.lit(r"(?im)^sitemap[ \t]*:"))
        .cast("long")
        .alias("n_sitemaps"),
        delay.alias("crawl_delay"),
        t.rlike(r"(?im)^disallow[ \t]*:[ \t]*/[ \t\r]*$").alias(
            "blanket_block"
        ),
    )
    return base.groupBy("host").agg(
        F.max("n_allow").alias("n_allow"),
        F.max("n_disallow").alias("n_disallow"),
        F.max("n_sitemaps").alias("n_sitemaps"),
        F.max("crawl_delay").alias("crawl_delay"),
        F.max("blanket_block").alias("blanket_block"),
    )


def robots_churn(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """robots.txt churn audit: per host, how many DISTINCT robots
    bodies the capture history holds and whether the LATEST capture
    differs from the earliest — hosts that rewrite their robots.txt
    need tighter re-fetch cadence (a cached-robots crawl against a
    changed policy is a compliance bug, the exact failure CC's
    robots-refresh interval exists to bound). The reference caches
    robots per process lifetime and never revisits.

    One min/max(struct(ts, fingerprint)) + countDistinct hash-agg per
    host (partial-aggregated; repeated identical captures collapse
    map-side via the fingerprint). Output: (host, n_captures,
    n_versions, changed) — changed = first and last capture carry
    different body fingerprints.
    """
    from .urlfilter import host_col
    from .textops import doc_fingerprint

    is_robots = F.col(url_col).rlike(r"^https?://[^/]+/robots\.txt$")
    base = pages.filter(is_robots).select(
        host_col(F.col(url_col)).alias("host"),
        F.col(ts_col).cast("long").alias("ts"),
        doc_fingerprint(F.col(text_col)).alias("fp"),
    )
    return (
        base.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_captures"),
            F.countDistinct("fp").cast("long").alias("n_versions"),
            F.min(F.struct("ts", "fp")).alias("_first"),
            F.max(F.struct("ts", "fp")).alias("_last"),
        )
        .select(
            "host",
            "n_captures",
            "n_versions",
            (F.col("_first.fp") != F.col("_last.fp")).alias("changed"),
        )
    )


def robots_violation_audit(
    fetch_log: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_col_name: str = "host",
) -> DataFrame:
    """Robots-compliance audit over a fetch log: per host, how many
    fetched URLs fall under a deny prefix — the governance card for a
    THIRD-PARTY crawl dump (CC publishes exactly this class of audit),
    and an invariant check for this engine's own logs, which must audit
    to zero violations (the admission path denies before fetch;
    asserted end-to-end in tests). Hosts absent from the robots table
    have no rules, so their fetches cannot violate.

    Shape: one join on host (un-hinted — same size-gate reasoning as
    with_robots: the audit caller usually has no measured host count,
    AQE decides) + an EXISTS over the deny-prefix array in codegen +
    one per-host hash-agg. Output: (host, n_fetches, n_violations,
    violation_rate rounded 6 dp).
    """
    # one row per host: duplicate host rows — e.g. robots
    # re-fetch snapshots — would fan out the left join and inflate
    # n_fetches/n_violations; with_robots documents the same precondition
    r = robots.select(
        F.col("host").alias("_rh"), F.col("deny_prefixes")
    ).dropDuplicates(["_rh"])
    joined = fetch_log.select(
        F.col(host_col_name).alias("host"), F.col(url_col).alias("url")
    ).join(r, F.col("host") == F.col("_rh"), "left")
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    viol = F.when(
        F.col("deny_prefixes").isNotNull(),
        F.exists("deny_prefixes", lambda p: path.startswith(p)),
    ).otherwise(F.lit(False))
    return (
        joined.select("host", viol.alias("_v"))
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_fetches"),
            F.sum(F.when(F.col("_v"), 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
        .withColumn(
            "violation_rate",
            F.round(
                F.col("n_violations").cast("double") / F.col("n_fetches"), 6
            ),
        )
    )


def stale_capture_report(
    pages: DataFrame,
    captures: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    cap_url_col: str = "url",
    cap_ts_col: str = "ts",
) -> DataFrame:
    """Freshness gap between what hosts DECLARE and what the archive
    HOLDS: join sitemap ``<lastmod>`` declarations
    (:func:`sitemap_lastmod`) against the capture history — a URL whose
    declared last modification post-dates its last capture is stale in
    the archive, and a declared URL with no capture at all is a
    coverage hole. The output IS the re-seed list, pre-ranked by
    staleness; the server-declared half of the signal
    scheduler.revisit_schedule estimates from observed content churn.

    Date algebra stays in INTEGER DAYS on both engines (lastmod ->
    days-since-epoch via datediff; capture ts -> floor(ts/86400)) — no
    timezone-sensitive timestamp casts anywhere. Several lastmod
    declarations per URL collapse to the max; capture history to the
    max ts. Shape: two bounded hash-aggs + one un-hinted left join on
    url (AQE picks broadcast for small capture sets). Output: (host,
    url, lastmod_day, last_capture_day, staleness_days, never_captured)
    — only stale or never-captured rows.
    """
    lm = (
        sitemap_lastmod(pages, url_col, text_col)
        .select(
            "host",
            F.col("loc").alias("url"),
            F.datediff(F.col("lastmod_date"), F.to_date(F.lit("1970-01-01")))
            .cast("long")
            .alias("lastmod_day"),
        )
        .groupBy("host", "url")
        .agg(F.max("lastmod_day").alias("lastmod_day"))
    )
    cap = (
        captures.select(
            F.col(cap_url_col).alias("url"),
            F.floor(F.col(cap_ts_col).cast("double") / 86400.0)
            .cast("long")
            .alias("_day"),
        )
        .groupBy("url")
        .agg(F.max("_day").alias("last_capture_day"))
    )
    j = lm.join(cap, "url", "left")
    return (
        j.select(
            "host",
            "url",
            "lastmod_day",
            "last_capture_day",
            (F.col("lastmod_day") - F.col("last_capture_day")).alias(
                "staleness_days"
            ),
            F.col("last_capture_day").isNull().alias("never_captured"),
        )
        .filter(
            F.col("last_capture_day").isNull()
            | (F.col("staleness_days") > 0)
        )
    )
