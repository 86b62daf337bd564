"""Link/transition-graph operators: edge extraction and weighted PageRank.

Why this lives in a crawler engine: large-scale crawl schedulers
prioritize the frontier by link centrality (OPIC / PageRank — Abiteboul
et al. 2003; Page et al. 1999), not just depth. The reference's priority
queue (/root/reference/queue.py:60-90) scores requests by a caller-set
priority; this module computes that score FROM the discovered graph, the
upgrade path SURVEY.md's scheduler plane leaves open.

Scale shape:
* ``transition_edges`` — one window shuffle partitioned by the session
  key (lag/lead is the sessionization primitive; 10^10 events shard by
  user), then a hash-agg that collapses to |node|^2 rows at most.
* ``pagerank`` — the standard distributed formulation: each iteration is
  one equi-join (edges x current ranks, shuffled on the join key — at
  10^10 nodes both sides shard; AQE broadcasts the rank table only while
  it is provably small) plus one hash-agg. Per-iteration lineage is
  truncated exactly like dedup.dup_clusters (reliable checkpoint when a
  checkpoint dir is configured, else localCheckpoint) and the previous
  iteration's blocks are unpersisted, so 10-iteration runs hold one copy
  of the rank table, not ten.

Determinism contract (what makes the DuckDB oracle exact): ranks are
rounded to 9 decimals after every iteration — both engines carry
identical values across iterations, so float sum-order ulps cannot
compound — and to 6 on output. Dangling nodes (no out-edges) leak their
mass by design (no redistribution term); the operator is a priority
scorer, not a stochastic-matrix solver, and the simpler recurrence is
reproducible in plain SQL on any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_edges(
    events: DataFrame,
    session_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    node_col: str = "event_type",
) -> DataFrame:
    """Weighted first-order transition graph from an event log: one edge
    (src, dst, weight=n_transitions) per ordered pair of consecutive
    events within a session. The order is made total by the trailing
    tiebreak columns so replays are byte-identical."""
    w = Window.partitionBy(session_col).orderBy(*[F.col(c) for c in order_cols])
    seq = events.withColumn("dst", F.lead(F.col(node_col)).over(w))
    return (
        seq.filter(F.col("dst").isNotNull())
        .groupBy(F.col(node_col).alias("src"), "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges, fixed iteration
    count. Returns (node, pagerank) for every node incident to an edge,
    pagerank rounded to 6 decimals.

    PR_0(v) = 1/N; PR_{k+1}(v) = (1-d)/N + d * sum_{u->v} PR_k(u) *
    w(u,v)/out_w(u). See the module docstring for the determinism and
    dangling-mass contract.
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    # materialize the caller's edge plan ONCE — both the node-set
    # derivation (count below) and the share table consume it, so an
    # expensive edge extraction (t28's lag window over the event log)
    # would otherwise execute twice before any iteration ran.
    edges = _ckpt(edges)
    # persisted: every iteration's eager checkpoint re-reads the node set
    # (and the count below materializes it anyway)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    ).persist()
    # one bounded agg job: N is a scalar the recurrence needs up front
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        edges.unpersist()
        return nodes.withColumn("pagerank", F.lit(0.0))
    outw = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    # cached: every iteration's join re-reads the share table; without
    # the persist each eager checkpoint below would recompute it from the
    # (materialized) edge table every round
    shares = edges.join(outw, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("share")
    ).persist()
    base = (1.0 - damping) / n
    pr = nodes.withColumn("pagerank", F.lit(1.0 / n))

    prev = None
    for _ in range(iters):
        contrib = (
            shares.join(pr, shares.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pagerank") * F.col("share")).alias("c"))
        )
        nxt = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0)),
                    9,
                ).alias("pagerank"),
            )
        )
        nxt = _ckpt(nxt)
        if prev is not None and not reliable:
            prev.unpersist()
        prev, pr = pr, nxt
    # final pr is checkpointed; lineage no longer needs any of the tables
    shares.unpersist()
    nodes.unpersist()
    edges.unpersist()
    return pr.select("node", F.round("pagerank", 6).alias("pagerank"))


def resolve_redirects(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """HTTP redirect-chain resolution: follow (src, dst) 3xx edges to
    each URL's final destination within ``max_hops`` — the crawl-plane
    operator Scrapy runs per-request in its RedirectMiddleware
    (/root/reference mirrors that via Scrapy's default middleware
    stack); a batch engine resolves the WHOLE redirect relation at once
    so frontier merge and seen-set can key on final URLs.

    Semantics (deterministic, oracle-exact):
    * one outgoing edge per src, determinized as min(dst) — string min
      is byte-identical across Spark and DuckDB for ASCII URLs;
    * n_hops = min(chain length, max_hops); ``resolved`` is false when
      the final node still has an outgoing edge (chain longer than the
      cap, or a redirect cycle — both bounce in place and cap at
      max_hops, exactly like a recursive-CTE walk with a hop guard).

    Scale shape — pointer doubling, not a per-hop loop: the 1-step map
    composes with itself log2(max_hops) times (f1 -> f2 -> f4 -> f8),
    so a 10^9-row redirect relation takes 3 self-equi-joins to resolve
    8 hops, not 8 joins; every join shards on the key, nothing is
    collected or broadcast. max_hops must be a power of two so the
    binary decomposition is exactly the squaring chain.
    """
    if max_hops < 1 or (max_hops & (max_hops - 1)) != 0:
        raise ValueError("max_hops must be a power of two")
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        # each squaring references f TWICE (probe + build side); without
        # materialization the lineage doubles per round (2^rounds copies
        # of the base scan — 17 static exchanges at 8 hops, measured).
        # The pagerank truncation pattern keeps it at one join per round.
        return (
            df.checkpoint(eager=True)
            if reliable
            else df.localCheckpoint(eager=True)
        )

    m = _ckpt(edges.groupBy("src").agg(F.min("dst").alias("dst")))
    # f(x) = (node reached from x in min(2^k, remaining) hops, hop count)
    f = m.select("src", F.col("dst").alias("reach"), F.lit(1).alias("len"))
    rounds = max_hops.bit_length() - 1  # log2
    for _ in range(rounds):
        f = _ckpt(f)
        b = f.select(
            F.col("src").alias("_bsrc"),
            F.col("reach").alias("_breach"),
            F.col("len").alias("_blen"),
        )
        f = (
            f.join(b, f.reach == b._bsrc, "left")
            .select(
                "src",
                F.coalesce(F.col("_breach"), F.col("reach")).alias("reach"),
                (
                    F.col("len")
                    + F.coalesce(F.col("_blen"), F.lit(0))
                ).alias("len"),
            )
        )
    more = m.select(F.col("src").alias("reach"), F.lit(True).alias("_more"))
    return (
        f.join(more, "reach", "left")
        .select(
            "src",
            F.col("reach").alias("final_url"),
            F.col("len").cast("int").alias("n_hops"),
            (~F.coalesce(F.col("_more"), F.lit(False))).alias("resolved"),
        )
    )


def host_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    include_self: bool = False,
) -> DataFrame:
    """Host-level link graph from raw HTML: (src_host, dst_host,
    n_links) edge weights — the classic PageRank/OPIC input a crawler
    maintains over its own corpus (transition_edges builds the same
    shape from BEHAVIOR logs; this builds it from CONTENT). The
    reference's spiders read hrefs per page via XPath
    (/root/reference/Douban2/spiders/*.py); at corpus scale the whole
    extraction is one declarative pass.

    Pure column algebra — regexp_extract_all inside scan codegen (no
    Python, no kernel), one explode, one hash-agg; within-page repeat
    links collapse map-side so the shuffle carries |distinct (src_host,
    dst_host)| rows, never the corpus' total href count. Relative links
    resolve to the source host; protocol-relative (//host/...) and
    absolute http(s) links to their own host; self-loops (intra-host
    navigation, usually ~90% of a site's links) are dropped unless
    ``include_self``.
    """
    from .urlfilter import host_col

    html_s = F.col(html_col).cast("string")
    hrefs = F.expr(
        f"regexp_extract_all(cast({html_col} as string), "
        "'href=\"([^\"]+)\"', 1)"
    )
    src = host_col(F.col(url_col))
    exploded = pages.select(
        src.alias("src_host"), F.explode(hrefs).alias("href")
    )
    dst = (
        F.when(
            F.col("href").rlike("^https?://"),
            F.regexp_extract(F.col("href"), r"^https?://([^/?#]+)", 1),
        )
        .when(
            F.col("href").startswith("//"),
            F.regexp_extract(F.col("href"), r"^//([^/?#]+)", 1),
        )
        .otherwise(F.col("src_host"))
    )
    edges = exploded.select("src_host", dst.alias("dst_host"))
    if not include_self:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )


def anchor_text(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Anchor-text aggregation per link target: (dst_url, n_anchors,
    n_texts, top_text) — what the rest of the web calls a page. Search
    and quality pipelines score pages by their inlink anchor texts
    (spam targets collect thousands of identical anchors; authoritative
    pages collect diverse ones), and big crawlers surface it as a
    first-class corpus artifact (Common Crawl's WAT files carry the
    per-link anchor text). The reference reads hrefs per page via XPath
    (/root/reference/Douban2/spiders/douban2.py:112-136) but discards
    the anchor text; at corpus scale the whole aggregation is one
    declarative pass.

    Scale shape: regexp extraction inside scan codegen (no Python), one
    explode, then TWO hash-aggs — (dst_url, text) counts collapse
    map-side first (a million identical "click here" anchors to one
    page become one shuffle row), then per-dst ``min_by`` over the
    counted relation picks the winner. The winner is deterministic:
    most-frequent text, ties broken lexicographically-smallest
    (min over struct(-n, text)) — partial-aggregatable, no window over
    raw anchors.

    Resolution scope (bounded, like the WARC parser's): absolute
    http(s) hrefs, protocol-relative ``//host/...`` (https assumed),
    and root-relative ``/path`` resolved against the source origin.
    Directory-relative hrefs and pure fragments are dropped — resolving
    them needs the RFC 3986 merge algorithm, a policy layer a
    deployment adds on top. Empty/whitespace-only anchor texts are
    dropped (images, spacer links).
    """
    from .urlfilter import host_col

    anchors = F.expr(
        f"regexp_extract_all(cast({html_col} as string), "
        "'<a href=\"[^\"]+\"[^>]*>[^<]*</a>', 0)"
    )
    exploded = pages.select(
        host_col(F.col(url_col)).alias("src_host"),
        F.explode(anchors).alias("a"),
    ).select(
        "src_host",
        F.regexp_extract(F.col("a"), r'href="([^"]+)"', 1).alias("href"),
        F.trim(F.regexp_extract(F.col("a"), r">([^<]*)</a>", 1)).alias("text"),
    )
    dst = (
        F.when(F.col("href").rlike("^https?://"), F.col("href"))
        .when(
            F.col("href").startswith("//"),
            F.concat(F.lit("https:"), F.col("href")),
        )
        .when(
            F.col("href").startswith("/"),
            F.concat(F.lit("https://"), F.col("src_host"), F.col("href")),
        )
    )
    pairs = (
        exploded.filter(F.col("text") != "")
        .select(dst.alias("dst_url"), "text")
        .filter(F.col("dst_url").isNotNull())
    )
    counted = pairs.groupBy("dst_url", "text").agg(F.count("*").alias("n"))
    return counted.groupBy("dst_url").agg(
        F.sum("n").alias("n_anchors"),
        F.count("*").alias("n_texts"),
        F.min_by(
            "text", F.struct((-F.col("n")).alias("nn"), F.col("text"))
        ).alias("top_text"),
    )


def outlink_stats(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Per-page outlink quality signals: (url, n_links, n_external,
    external_ratio) — link-farm / doorway pages have extreme link counts
    and external ratios, and web-quality filters (Gopher-lineage) cut on
    them. ZERO shuffles: the href array never explodes — counting and
    the external test run in-row via higher-order functions
    (``size``/``filter`` over the regexp-extracted array), so the
    operator is a stateless projection that scales with the scan.

    External = absolute http(s) or protocol-relative href whose host
    differs from the page's; everything else (root-relative,
    directory-relative, fragments) is internal. ``external_ratio`` is
    NULL for pages with no links (not 0 — "no links" and "all internal"
    are different quality signals), rounded to 6dp for oracle exactness.
    """
    from .urlfilter import host_col

    hrefs = F.expr(
        f"regexp_extract_all(cast({html_col} as string), "
        "'href=\"([^\"]+)\"', 1)"
    )
    src = host_col(F.col(url_col))
    dst_host = lambda h: F.when(  # noqa: E731
        h.rlike("^https?://"), F.regexp_extract(h, r"^https?://([^/?#]+)", 1)
    ).when(h.startswith("//"), F.regexp_extract(h, r"^//([^/?#]+)", 1))
    with_arr = pages.select(
        F.col(url_col).alias("url"), src.alias("_src"), hrefs.alias("_hrefs")
    )
    n_links = F.size(F.col("_hrefs"))
    n_ext = F.size(
        F.filter(
            F.col("_hrefs"),
            lambda h: dst_host(h).isNotNull()
            & (dst_host(h) != F.col("_src")),
        )
    )
    return with_arr.select(
        "url",
        n_links.cast("long").alias("n_links"),
        n_ext.cast("long").alias("n_external"),
        F.round(
            F.when(
                n_links > 0, n_ext.cast("double") / n_links.cast("double")
            ),
            6,
        ).alias("external_ratio"),
    )


def resolve_href(url: "F.Column", href: "F.Column") -> "F.Column":
    """Resolve an href against its page URL as pure column algebra:
    absolute http(s) kept, protocol-relative adopts the page scheme,
    root-relative joins scheme://host, anything else joins the page's
    directory prefix (query/fragment-free simplification — dot-segment
    normalization is a decode-kernel concern). Shared by
    :func:`canonical_links` and :func:`hreflang_alternates` so both
    resolve identically; each oracle replays the same CASE."""
    scheme = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*):", 1)
    origin = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*://[^/?#]+)", 1)
    dirpfx = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*://[^?#]*/)", 1)
    return (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(
            F.concat(F.coalesce(F.nullif(dirpfx, F.lit("")),
                                F.concat(origin, F.lit("/"))), href)
        )
    )


def canonical_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Canonical-URL resolution per page: extract ``<link
    rel="canonical" href=...>`` from raw HTML and resolve it against the
    page's own URL — the consolidation signal Common-Crawl-style dedup
    uses to collapse URL aliases (?utm= twins, mobile mirrors, paginated
    variants) onto one representative BEFORE content hashing. The
    reference crawls canonical-free (its dupefilter keys raw request
    fingerprints, /root/reference/dupefilter.py:20-40); at corpus scale
    canonical consolidation is a declarative pass over the HTML already
    fetched.

    Output one row per page carrying a canonical tag: (url,
    canonical_url, is_self, target_in_corpus). ``is_self`` marks pages
    that are their own canonical (the keep set); alias rows with
    ``target_in_corpus`` true can be dropped with a witness, rows with
    false feed the frontier (the canonical target is a DISCOVERED URL).

    Scale shape: both attribute orders (rel-first / href-first) extract
    via two regexp_extract calls inside scan codegen — no Python, no
    explode. Resolution is pure column algebra: absolute http(s) kept,
    protocol-relative adopts the page scheme, root-relative joins
    scheme://host, directory-relative joins the page's directory prefix
    (query/fragment-free simplification, documented). Corpus membership
    is ONE equi-join against the distinct page-url set — O(corpus),
    partial-aggregated map-side, never corpus².
    """
    html_s = F.col("_h")
    rel_first = F.regexp_extract(
        html_s, r'<link[^>]*rel="canonical"[^>]*href="([^"]+)"', 1
    )
    href_first = F.regexp_extract(
        html_s, r'<link[^>]*href="([^"]+)"[^>]*rel="canonical"', 1
    )
    href = F.nullif(F.coalesce(F.nullif(rel_first, F.lit("")),
                               F.nullif(href_first, F.lit(""))), F.lit(""))
    canon = resolve_href(F.col("url"), href)
    tagged = (
        pages.select(F.col(url_col).alias("url"),
                     F.col(html_col).cast("string").alias("_h"))
        .select("url", canon.alias("canonical_url"))
        .filter(F.col("canonical_url").isNotNull())
    )
    members = pages.select(F.col(url_col).alias("canonical_url")).distinct()
    return (
        tagged.join(members.withColumn("_in", F.lit(True)),
                    "canonical_url", "left")
        .select(
            "url",
            "canonical_url",
            (F.col("canonical_url") == F.col("url")).alias("is_self"),
            F.coalesce(F.col("_in"), F.lit(False)).alias("target_in_corpus"),
        )
    )


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """BFS hop distance from a seed set over a link graph: (node, dist)
    for every node reachable within ``max_hops`` — crawl depth measured
    on the DISCOVERED graph rather than carried on requests (the
    reference tracks depth per request via Scrapy's DepthMiddleware
    meta; a shuffle engine derives the whole distance relation at once,
    and frontier prioritization / trap containment read it per host).

    Level-synchronous frontier BFS, the shape that shards: per hop, ONE
    equi-join (current frontier x edges, shuffled on the join key) plus
    ONE anti-join against the visited set and a distinct — cost is
    O(frontier edges) per hop, never O(graph) re-scanned, and the
    visited set only grows by genuinely new nodes. Early-exits when a
    hop discovers nothing (the count is one action per hop, bounded by
    max_hops). Lineage is truncated per hop exactly like
    :func:`pagerank` (reliable checkpoint when configured, else
    localCheckpoint) so deep BFS holds one copy of the state, not
    max_hops copies. Distances are integers — bit-portable, and the
    min-distance winner is unique by construction (a node enters the
    visited set at its first hop and is anti-joined away after).
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    # materialize the deduped edge table once — every hop's join (and
    # the final union lineage) otherwise re-executes the upstream edge
    # derivation per hop (dup_clusters does the same). Checkpointed, so blocks release with the result's lineage.
    e = _ckpt(
        edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        ).distinct()
    )
    # the visited set is kept as a UNION of the per-hop checkpointed
    # level sets instead of re-checkpointing the whole accumulated
    # relation every hop — that re-copy was O(V) writes PER HOP
    # (O(V·hops) total); every union child is already materialized, so
    # lineage stays flat (one union node per hop, bounded by max_hops)
    # and nothing can recompute. The emptiness probe rides the level
    # set's materialization job as an Observation row count in
    # localCheckpoint mode (the dup_clusters pattern); reliable mode
    # reads isEmpty() from the materialized blocks.
    from pyspark.sql import Observation

    dist = _ckpt(
        seeds.select(
            F.col(seed_col).alias("node"), F.lit(0).cast("long").alias("dist")
        ).distinct()
    )
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e._s)
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
        ).select("node", F.lit(hop).cast("long").alias("dist"))
        if reliable:
            new = _ckpt(nxt)
            empty = new.isEmpty()
        else:
            obs = Observation()
            new = nxt.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
                eager=True
            )
            empty = obs.get["n"] == 0
        if empty:
            break
        dist = dist.unionAll(new)
        frontier = new.select("node")
    return dist


def hreflang_alternates(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """hreflang alternate extraction: ``<link rel="alternate"
    hreflang=.. href=..>`` tags -> (url, hreflang, alt_url) edges — the
    i18n twin of :func:`canonical_links`. Language-aware dedup needs
    these: translated mirrors of one page are NOT near-duplicates by
    content (different language, same document), so the declared
    alternate cluster is the only cheap signal that u/en, u/de, u/fr are
    one logical page; mixture planning (textops.mixture_plan) also
    counts a translated cluster once, not |langs| times.

    Scale shape: regexp_extract_all of whole <link> tags in scan
    codegen, one explode, per-tag projections (rel=alternate filter,
    hreflang + href extraction tolerant of either attribute order),
    resolution via :func:`resolve_href` — no Python, no joins. hreflang
    values lowercase (BCP 47 is case-insensitive); within-page repeat
    tags collapse via distinct.
    """
    tags = F.expr(
        f"regexp_extract_all(cast({html_col} as string), "
        "'(?i)(<link[^>]*>)', 1)"
    )
    t = F.col("_t")
    lang = F.regexp_extract(t, r'(?i)hreflang="([A-Za-z0-9-]+)"', 1)
    href = F.regexp_extract(t, r'(?i)href="([^"]+)"', 1)
    return (
        pages.select(
            F.col(url_col).alias("url"), F.explode(tags).alias("_t")
        )
        .filter(
            t.rlike('(?i)rel="alternate"')
            & (lang != "") & (href != "")
        )
        .select(
            "url",
            F.lower(lang).alias("hreflang"),
            resolve_href(F.col("url"), href).alias("alt_url"),
        )
        .distinct()
    )


def degree_distribution(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Web-graph degree audit per node: (node, out_degree, in_degree,
    out_weight, in_weight) — the sanity card every PageRank/OPIC input
    needs before the iteration spends cluster-hours (a single node with
    in_degree ~ |graph| is a link farm or an extraction bug; a huge
    dangling share means the damping assumption is doing all the work).

    Scale shape: two partial-aggregatable hash-aggs (one per direction;
    each shuffle carries |distinct nodes|, never the edge count) merged
    by one full-outer equi-join on node — O(nodes), never a window over
    edges. Degrees are long, weights double; a node missing from one
    direction gets 0 (dangling nodes are in_*-only rows, sources are
    out_*-only).
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    outd = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").cast("long").alias("out_degree"),
        F.sum(w).cast("double").alias("out_weight"),
    )
    ind = edges.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").cast("long").alias("in_degree"),
        F.sum(w).cast("double").alias("in_weight"),
    )
    z = F.lit(0).cast("long")
    return (
        outd.join(ind, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", z).alias("out_degree"),
            F.coalesce("in_degree", z).alias("in_degree"),
            F.round(F.coalesce("out_weight", F.lit(0.0)), 6)
                .alias("out_weight"),
            F.round(F.coalesce("in_weight", F.lit(0.0)), 6)
                .alias("in_weight"),
        )
    )


def host_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Site-family clusters: connected components over the (undirected)
    host link graph — the mirror/CDN/parking-farm consolidation signal
    (a component of 500 hosts all interlinking is ONE site for crawl
    budgeting and dedup accounting; Common Crawl's host-level webgraph
    releases ship exactly this clustering). Delegates to
    :func:`crawlspark.dedup.dup_clusters`' min-label propagation —
    string labels work unchanged because ``min`` on ASCII hostnames is
    byte-identical across engines — and adds the component size.

    Scale shape: inherits dup_clusters (one equi-join + one hash-agg
    per iteration, per-iteration checkpoint truncation + unpersist,
    O(component diameter) iterations — host graphs are shallow); the
    size is one extra hash-agg over the |hosts| label table joined
    back. Output: (host, component_id, n_hosts) for every host
    incident to >= 1 edge, component_id = lexicographically-least
    member.
    """
    from .dedup import dup_clusters

    pairs = edges.select(
        F.col(src_col).alias("doc_a"), F.col(dst_col).alias("doc_b")
    ).filter(F.col("doc_a") != F.col("doc_b"))
    labels = dup_clusters(pairs, max_iters=max_iters).select(
        F.col("doc_id").alias("host"), F.col("cluster_id").alias("component_id")
    )
    sizes = labels.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_hosts")
    )
    return labels.join(sizes, "component_id").select(
        "host", "component_id", "n_hosts"
    )


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999) over (src, dst)
    edges, fixed iteration count — the third frontier-prioritization
    primitive next to :func:`pagerank` and :func:`seed_distance`:
    authorities are the pages worth fetching, hubs the pages worth
    re-parsing for links (a crawl scheduler boosts hub re-visits to
    discover, authority fetches to cover).

    Exact-integer determinism (stronger than pagerank's round(9)
    contract, because HITS normalizes by a GLOBAL sum each half-step,
    where float sum order across 10^9 nodes could flip an ulp): scores
    live in integer NANO-UNITS (longs summing to 10^9) end to end —
    every propagation sum is a long sum (associative, order-free), and
    each normalization divides two exact longs in double precision and
    rounds back to nano-units, so Spark and the SQL oracle carry
    bit-identical tables through every iteration. auth_{k}(v) =
    norm(sum_{u->v} hub_{k-1}(u)); hub_k(u) = norm(sum_{u->v}
    auth_k(v)); hub_0 = floor(10^9 / |nodes|).

    Scale shape: per half-step one equi-join (edges x score table,
    sharded on the join key) + one hash-agg; the norm total is a 1-row
    aggregate cross-joined; per-iteration lineage truncated + previous
    blocks unpersisted exactly like pagerank. Output: (node, hub,
    auth) as doubles (nano / 1e9, rounded 6dp), every node incident to
    an edge.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    ).persist()
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        e.unpersist()
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "auth", F.lit(0.0)
        )
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    def _norm_ck(df: DataFrame, col: str):
        # checkpoint the half-step aggregate FIRST, then read the
        # normalization total from the materialized blocks as a scalar
        # and divide by it as a literal. A df.crossJoin(df.agg(sum))
        # shape references the propagation join+agg subtree TWICE in one
        # plan, so every half-step would execute its edge join twice; the long sum and the double
        # division are value-identical either way. The scalar agg is a
        # parallel tree-agg over the bounded node table — no global
        # window, scale shape unchanged.
        # localCheckpoint mode: the total rides the materialization job
        # itself as an Observation metric (zero extra jobs per half-step;
        # the dup_clusters pattern). Reliable checkpoints go through the
        # RDD API where observe metrics are not guaranteed — that mode
        # reads the total from the materialized blocks.
        if reliable:
            ck = _ckpt(df)
            tot = ck.agg(F.sum(col).alias("_tot")).collect()[0][0]
        else:
            from pyspark.sql import Observation

            obs = Observation()
            ck = df.observe(obs, F.sum(col).alias("_tot")).localCheckpoint(
                eager=True
            )
            tot = obs.get["_tot"]
        normed = ck.select(
            "node",
            F.round(F.col(col).cast("double") / F.lit(tot) * F.lit(1e9))
            .cast("long")
            .alias(col),
        )
        return ck, normed

    # floor, not round: floor(1e9/n) is unambiguous across engines
    # (python round is banker's, SQL round is half-away)
    init = 10**9 // n
    hub = nodes.withColumn("hub", F.lit(init).cast("long"))
    auth = None
    # unpersist handles: new_auth/new_hub are projections OVER their
    # checkpoints, so block release must target the ck frames themselves
    hub_ck = auth_ck = None
    for _ in range(iters):
        auth_raw = (
            e.join(hub, e.src == hub.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        new_auth_ck, new_auth = _norm_ck(auth_raw, "auth")
        hub_raw = (
            e.join(new_auth, e.dst == new_auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        new_hub_ck, new_hub = _norm_ck(hub_raw, "hub")
        # previous iteration's blocks are dead once the new eager
        # checkpoints are materialized (the pagerank pattern)
        if not reliable:
            if hub_ck is not None:
                hub_ck.unpersist()
            if auth_ck is not None:
                auth_ck.unpersist()
        hub, auth = new_hub, new_auth
        hub_ck, auth_ck = new_hub_ck, new_auth_ck
    out = (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hub", F.lit(0)).cast("double") / F.lit(1e9), 6)
                .alias("hub"),
            F.round(F.coalesce("auth", F.lit(0)).cast("double") / F.lit(1e9), 6)
                .alias("auth"),
        )
    )
    nodes.unpersist()
    e.unpersist()
    return out


def pld_link_stats(
    edges: DataFrame,
    min_in: int = 2,
    self_share_min: float = 0.8,
) -> DataFrame:
    """Self-promotion audit per target host: what share of a host's
    in-links come from hosts under the SAME registrable (pay-level)
    domain — the cheap half of TrustRank/anti-spam link analysis (a
    host whose in-degree is manufactured by its own subdomain farm
    ranks itself; cross-PLD in-links are the only endorsement signal
    PageRank should trust). Common Crawl's webgraph releases publish
    host- AND pld-level graphs for exactly this collapse.

    PLD here = last two dot-labels (honest approximation; a public-
    suffix-list seam would slot in where the regex is — same contract
    as textops.lang_id's model slot). Self-loops (src == dst) are
    dropped: a page linking its own host is navigation, not promotion.

    Scale shape: stateless PLD projection in scan codegen + ONE
    partial-aggregatable hash-agg to |distinct dst hosts| rows (the
    same-PLD test is computed per edge BEFORE the shuffle — no join
    against a component or domain table). Output: (host, pld, n_in,
    n_self, self_share, is_self_promoting) — flagged when n_in >=
    ``min_in`` and self_share >= ``self_share_min``.
    """
    pld = lambda c: F.regexp_extract(c, r"([^.]+\.[^.]+)$", 1)  # noqa: E731
    e = edges.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("host"),
        pld(F.col("dst")).alias("pld"),
        (pld(F.col("src")) == pld(F.col("dst")))
        .cast("long")
        .alias("is_self"),
    )
    agg = e.groupBy("host", "pld").agg(
        F.count("*").cast("long").alias("n_in"),
        F.sum("is_self").cast("long").alias("n_self"),
    )
    share = F.round(
        F.col("n_self").cast("double") / F.col("n_in"), 6
    )
    return agg.select(
        "host",
        "pld",
        "n_in",
        "n_self",
        share.alias("self_share"),
        (
            (F.col("n_in") >= int(min_in))
            & (share >= float(self_share_min))
        ).alias("is_self_promoting"),
    )


def link_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_out: int = 2,
    reciprocal_share_min: float = 0.8,
) -> DataFrame:
    """Link-exchange audit per source host: how many of the DISTINCT
    hosts it links to link back — organic web linking is strongly
    asymmetric (reciprocity on the host graph is low), while link-
    exchange rings ("you link me, I link you") sit near 1.0, which is
    why reciprocal-share is a standard link-spam feature alongside
    :func:`pld_link_stats`' self-promotion share (TrustRank-family
    systems compute both before letting PageRank spend trust).

    Scale shape: collapse to the DISTINCT directed host-pair relation
    first (one hash-agg — weights don't matter for reciprocity, so the
    shuffle carries |distinct pairs|, never raw links), then ONE
    self-equi-join on the reversed pair (left semi — O(pairs), AQE
    shards it) and one hash-agg per source host. Self-loops dropped.
    Output: (host, n_out_hosts, n_reciprocal, reciprocal_share,
    is_link_exchange) — flagged when n_out_hosts >= ``min_out`` and
    share >= ``reciprocal_share_min``.
    """
    pairs = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .distinct()
    )
    rev = pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    marked = pairs.join(rev, ["a", "b"], "left_semi").select(
        "a", "b", F.lit(1).cast("long").alias("r")
    )
    agg = (
        pairs.join(marked.select("a", "b", "r"), ["a", "b"], "left")
        .groupBy(F.col("a").alias("host"))
        .agg(
            F.count("*").cast("long").alias("n_out_hosts"),
            F.sum(F.coalesce("r", F.lit(0))).cast("long").alias(
                "n_reciprocal"
            ),
        )
    )
    share = F.round(
        F.col("n_reciprocal").cast("double") / F.col("n_out_hosts"), 6
    )
    return agg.select(
        "host",
        "n_out_hosts",
        "n_reciprocal",
        share.alias("reciprocal_share"),
        (
            (F.col("n_out_hosts") >= int(min_out))
            & (share >= float(reciprocal_share_min))
        ).alias("is_link_exchange"),
    )


def apply_canonical(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """The APPLYING half of :func:`canonical_links` (the t29/t17
    producing/audit split): consolidate the corpus onto canonical
    representatives — every page whose canonical tag points at a
    DIFFERENT in-corpus URL is dropped, and each survivor carries how
    many aliases collapsed onto it. Pages that are their own
    canonical, carry no tag, or point outside the corpus all survive
    (an out-of-corpus canonical is a frontier DISCOVERY, not a drop —
    feed it to ingest_urls).

    Scale shape: inherits canonical_links (regex extraction in scan
    codegen, one membership equi-join), plus one anti-join to drop
    aliases and one |targets|-bounded hash-agg joined back for the
    alias counts — O(corpus) end to end, no windows. Output:
    (url, n_aliases) — one row per surviving page.
    """
    links = canonical_links(pages, url_col=url_col, html_col=html_col)
    drops = links.filter(
        (~F.col("is_self")) & F.col("target_in_corpus")
    ).select("url", "canonical_url")
    # drops feeds BOTH the survivor anti-join and the alias counts —
    # materialize it once so the html regex extraction + membership join
    # does not execute twice. Bounded by |pages with a non-self
    # in-corpus canonical| (two short url columns).
    spark = pages.sparkSession
    drops = (
        drops.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else drops.localCheckpoint(eager=True)
    )
    survivors = pages.select(F.col(url_col).alias("url")).distinct().join(
        drops.select("url"), "url", "left_anti"
    )
    counts = drops.groupBy(F.col("canonical_url").alias("url")).agg(
        F.count("*").cast("long").alias("n_aliases")
    )
    return survivors.join(counts, "url", "left").select(
        "url", F.coalesce("n_aliases", F.lit(0).cast("long")).alias("n_aliases")
    )
