"""FetchBackend — the seam between the scheduler and the page source (N7).

The reference routes every request through a middleware chain that can
rewrite the transport: proxy pool rotation
(/root/reference/utils/proxy_pool.py:42-132), UA/cookie middleware and
retry-aware downloading (/root/reference/Douban2/middlewares.py:161-279).
This engine's batch equivalent is a two-method interface that maps the
round's popped URL slice to (url, html) rows; everything downstream
(extraction, link discovery, marks) is backend-agnostic.

Default backend: the corpus join — "fetch" = lookup into the
Common-Crawl-style pages table, per BASELINE.json input_hint. A real
deployment subclasses FetchBackend with an HTTP transport (a mapInPandas
of pooled GETs over url batches; failures yield no row so the engine's
retry path engages) without touching the scheduler: politeness is
already enforced UPSTREAM by admission control (the slice handed to
fetch() is exactly the set of URLs the budgets allow this round), so the
backend only does transport. Per-request identity arrives as columns —
``ua``/``bid`` from :func:`with_request_headers` (N8) and ``addr`` from
``dns.with_addrs`` (N6) — so the request plan stays replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class FetchBackend:
    """Maps a DataFrame of (url) to (url, html). Missing rows = fetch
    failures; the engine requeues them with retry/backoff (P4/N9).

    CONTRACT: at most ONE row per url. The engine's round accounting
    (fetched/items counts, fetch_log lineage, the runner's arithmetic
    queued tracking) assumes url-uniqueness; run_round defensively
    dropDuplicates(["url"]) on the returned frame, keeping an arbitrary
    row per url — a backend that can fetch a url twice (HTTP retries,
    mirrored hosts) should pick its own winner to stay deterministic.

    A backend that can PROVE uniqueness sets ``unique_by_url`` True and
    the engine skips the enforcement shuffle (at 500k pages that dedup
    moves ~1.5 GB of extracted rows per round for no information)."""

    #: set True only when the backend structurally cannot emit the same
    #: url twice in one round; the engine then skips its defensive dedup
    unique_by_url: bool = False

    def fetch(self, urls: DataFrame) -> DataFrame:
        raise NotImplementedError


class CorpusFetchBackend(FetchBackend):
    """Fetch = inner equi-join against a pages corpus (F1).

    ``broadcast_slice`` gates the join strategy: a broadcast HINT is
    honored by Spark unconditionally (AQE never demotes it), so the
    caller — who knows the round's actual popped count — decides.
    run_round passes True only when the slice is at or under
    crawl.BROADCAST_SLICE_MAX_ROWS; a 10^7-row round at the
    10^10-URL design point takes the plain equi-join (sort-merge; with
    pages bucketed by url, bucket-local) instead of OOMing the driver.
    Misses (dead links) simply produce no row — the engine derives them
    against the hit set, never by anti-joining the full corpus.

    ``point_lookup`` (the TINY-slice fast path — seed rounds, retry tails):
    even a broadcast join must SCAN the whole corpus to probe the hash
    relation — measured ~25 s/executor-core per round at a 500k-page
    corpus, and O(corpus) at the 10^10-page design point where a full
    scan is ~500 TB of IO. A point lookup instead collects the slice's
    url list (bounded: run_round enables this only when the round's
    actual popped count — known from its count job — is at or under
    crawl.POINT_LOOKUP_MAX_URLS; the same explicitly-bounded-
    observable rule as the monitor and IVF query collects) and pushes it
    into the corpus scan as an ``In(url, ...)`` parquet filter. Against
    the production layout — write_bucketed_pages: url-sorted buckets,
    url bloom filters, thousands of buckets — Spark prunes non-matching
    BUCKETS at planning time and the bloom filters skip row groups
    inside the survivors: the parquet-native index lookup, same
    mechanism as the seen-set fp blooms (measured 2.53x on absent-key
    lookups over 8M fingerprints in 16 files). The gate must stay SMALL (500): pushed-
    In evaluation cost grows linearly with the probe count and crosses
    the full-scan join around a few thousand probes (measured numbers
    at crawl.POINT_LOOKUP_MAX_URLS).
    """

    def __init__(self, pages: DataFrame, broadcast_slice: bool = True,
                 point_lookup: bool = False,
                 pages_unique_by_url: bool = True):
        self.pages = pages
        self.broadcast_slice = broadcast_slice
        self.point_lookup = point_lookup
        # an equi-join of a url-unique corpus against the (unique) popped
        # slice cannot emit a url twice — uniqueness is the declared
        # corpus-table contract (url is the key of the input_hint's pages
        # table; write_bucketed_pages lays out one row per url; MERGE
        # upserts keep it that way). Pass False for corpora that carry
        # multiple snapshots per url (e.g. raw multi-crawl WARC unions) —
        # the engine then enforces one-row-per-url itself.
        self.unique_by_url = pages_unique_by_url

    def fetch(self, urls: DataFrame) -> DataFrame:
        if self.point_lookup:
            vals = [r["url"] for r in urls.collect()]
            if not vals:
                return self.pages.select("url", "html").limit(0)
            return self.pages.filter(F.col("url").isin(vals)).select("url", "html")
        slice_df = F.broadcast(urls) if self.broadcast_slice else urls
        return self.pages.select("url", "html").join(slice_df, "url", "inner")


def write_bucketed_pages(
    pages: DataFrame,
    table_name: str,
    buckets: int = 64,
    path: str | None = None,
) -> None:
    """Materialize the pages corpus as a url-BUCKETED table — the at-scale
    fetch-join layout (SURVEY F1; BASELINE.json north_star "pages bucketed
    by url").

    When a round's popped slice exceeds the broadcast gate, the fetch is a
    plain equi-join on url; against an unbucketed corpus that sort-merge
    join SHUFFLES THE WHOLE CORPUS — at the 10^10-URL design point the
    dominant cost of every round (measured on separate-JVM executors:
    corpus-side shuffle traffic crossing process boundaries, not the
    extract kernel, capped e2e scaling). Against a bucketed table Spark
    reads each bucket in place (zero Exchange on the corpus side) and
    shuffles ONLY the slice into the same bucketing — per round that is
    O(slice), never O(corpus). Plan-shape asserted in
    tests/test_fetch_and_monitor.py.

    ``buckets`` should be sized so one bucket ~ a few GB at the target
    corpus (10^10 pages x ~50 KB -> tens of thousands of buckets).

    The layout doubles as the point-lookup index (CorpusFetchBackend
    point_lookup): url-SORTED buckets give every row group a tight url
    min/max range and the url bloom filters catch the rest, so a pushed
    In(url, ...) filter skips row groups instead of scanning the corpus.
    Repartitioning by url onto the bucket count first gives ONE file per
    bucket (Spark's bucket hash == its shuffle hash), which also lets
    bucketed sort-merge joins reuse the on-disk sort order.
    """
    w = (
        pages.repartition(buckets, F.col("url"))
        .write.mode("overwrite")
        .format("parquet")
        .option("parquet.bloom.filter.enabled#url", "true")
        .bucketBy(buckets, "url")
    )
    if path is not None:
        w = w.option("path", path)
    w.sortBy("url").saveAsTable(table_name)


# Default UA pool = the reference's rotation list
# (/root/reference/Douban2/middlewares.py:119-125)
DEFAULT_USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:123.0) "
    "Gecko/20100101 Firefox/123.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.3 Safari/605.1.15",
]


def with_request_headers(slice_df: DataFrame, round_no: int,
                         user_agents: list[str] | None = None) -> DataFrame:
    """Per-request UA rotation + session-cookie randomization (N8) as
    pure column algebra over the round's popped slice.

    The reference's middleware picks a random UA per request and
    regenerates an 11-char alphanumeric ``bid`` session cookie per
    request (/root/reference/Douban2/middlewares.py:117-158). Randomness
    inside a distributed batch engine breaks the resume contract
    (a re-run round must produce byte-identical requests), so both are
    DETERMINISTIC per (url, round): the UA is hash-picked from the pool
    and ``bid`` is derived from a salted hash — the same request gets
    the same identity on replay, different rounds rotate. Both columns
    are JVM-side expressions (codegen; no Python in the hot path); an
    HTTP fetch backend sends them as the User-Agent header and the
    ``bid`` cookie. Static header constants (sec-ch-*,
    Sec-Fetch-*) are backend configuration, not per-row data.
    """
    agents = user_agents or DEFAULT_USER_AGENTS
    pick = F.pmod(F.xxhash64(F.col("url"), F.lit(round_no), F.lit("ua")),
                  F.lit(len(agents))).cast("int")
    ua = F.element_at(F.array(*[F.lit(a) for a in agents]), pick + 1)
    # 11-char [0-9a-z] session id from two salted 61-bit hashes (the
    # reference draws 11 alnum chars per request; base36 keeps it a pure
    # JVM conv() expression)
    h1 = F.pmod(F.xxhash64(F.col("url"), F.lit(round_no), F.lit("bid1")),
                F.lit(2 ** 61))
    h2 = F.pmod(F.xxhash64(F.col("url"), F.lit(round_no), F.lit("bid2")),
                F.lit(2 ** 61))
    bid = F.substring(
        F.concat(F.lower(F.conv(h1.cast("string"), 10, 36)),
                 F.lower(F.conv(h2.cast("string"), 10, 36))), 1, 11)
    return slice_df.withColumn("ua", ua).withColumn("bid", bid)

