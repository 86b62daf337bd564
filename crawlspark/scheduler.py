"""Scheduler-round admission: priority pop, politeness budgets, robots.

Reproduces, as declarative Spark, the reference's scheduling stack:

* **Priority pop** (Q2): scrapy-redis ``SpiderPriorityQueue`` ZRANGE pop —
  highest priority first (selected /root/reference/Douban2/settings.py:70,73).
  The north_rule pins the tiebreak as per-host FIFO within a priority
  class: we order by (priority DESC, seq ASC, fp ASC) inside each host.
* **Politeness** (N1-N3): the reference sleeps (DOWNLOAD_DELAY=3 randomized,
  AUTOTHROTTLE 3-10s, ``Douban2/settings.py:17-21,29-33``; sliding 1s
  window <=3 in-flight, ``url_dispatcher/url_dispatcher.py:118-130``; Redis
  <=30/min INCR window, ``Douban2/middlewares.py:399-409``). Sleeping inside
  executors is an anti-pattern; the batch-equivalent is **admission
  control**: with crawl delay d and round wall-time T, a host may admit
  floor(T/d) URLs per round, capped at the 30/min analog. Same fetch
  schedule, zero idle executors.
* **robots.txt** (N4): the per-domain allow/deny + crawl-delay parse
  (``utils/robots_parser.py:43-109``) becomes a small broadcast ``robots``
  table joined on host — parse once per host, never per URL.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .schema import MAX_PARENT_RN, STATUS_DONE, STATUS_QUEUED


# Admission constants (CrawlConfig holds only the options callers set).
# robots default crawl_delay (utils/robots_parser.py:108-109); a missing,
# zero or negative crawl-delay falls back to it
DEFAULT_CRAWL_DELAY = 1.0
# rank<=100 -> priority 1, rank<=200 -> priority 0, else -1
# (douban2.py:160-166)
LINK_PRIORITY_T1 = 100
LINK_PRIORITY_T2 = 200
# hot-host salting fan-out for the pop window (P1)
POP_SALTS = 8
# Broadcast size gate for the robots table (N4), also used for the DNS
# map in dns.with_addrs. One row per KNOWN host is not provably
# broadcast-sized at the 10^10-URL design point: 10^7-10^8 hosts x
# deny-prefix arrays is multi-GB. The runner collects the robots frame ONCE
# per run (it is static input), up to one row past this bound; when it fits,
# the rounds join that local relation and with_robots hints broadcast.
# Above it — or when no count was supplied — the join is left un-hinted and
# AQE picks the strategy from runtime stats (it still broadcasts genuinely
# small robots tables).
BROADCAST_ROBOTS_MAX_HOSTS = 1_000_000
# AUTOTHROTTLE feedback factors (Douban2/settings.py:29-33): budget scale
# multiplier after a bad round, after a clean round, the miss ratio that
# counts as "bad", and the floor of the scale
AT_BACKOFF = 0.5
AT_RECOVER = 1.5
AT_MISS_THRESHOLD = 0.2
AT_MIN_SCALE = 0.05


@dataclass
class CrawlConfig:
    round_wall: float = 60.0       # seconds of wall-clock one round stands for
    per_host_cap: int = 30         # 30-per-minute analog (Douban2/middlewares.py:399-409)
    # DELIBERATE DEVIATION from Scrapy's RETRY_TIMES: here max_retries =
    # TOTAL attempts (max_retries=3 -> 1 initial + 2 retries), whereas
    # Scrapy's RETRY_TIMES=3 allows 3 retries AFTER the first attempt (4
    # total). The engine and the pure-Python order-parity simulator
    # implement the same contract; tests pin it. Set max_retries=4 to
    # reproduce Scrapy's 4-total-attempts behavior exactly.
    max_retries: int = 3           # total attempts (RETRY_TIMES=3 analog, see above)
    max_depth: int = 1             # request_depth_max: 1 (logs/spider_douban1.log:561)
    n_buckets: int = 64
    max_urls_per_round: int | None = None  # global cap (P2 backpressure analog)
    # Static quota (P5): lifetime cap on DONE urls per host. The
    # reference splits a global CLOSESPIDER_ITEMCOUNT=250 into fixed
    # per-node quotas 84/83/83 (/root/reference/Douban2/pipelines.py:
    # 114-133, settings.py:113); per-NODE splits don't exist in a
    # shuffle-based engine (parity is on the final set, not node
    # assignment — the global 250 analog is CrawlRunner.run(max_items)),
    # so the engine-meaningful static quota is per-HOST: admission stops
    # popping a host once its fetched total reaches the quota, the
    # at-scale "cap pages per domain" primitive. None (default) = off,
    # zero extra work in the round.
    host_quota: int | None = None
    # Corpus-building mode (north_star: "extracts byte-identical text per
    # url from html"): when True, each round extracts text in the same
    # Arrow kernel pass and persists (url, text, crawl_round) to the
    # `corpus` output table with the round's atomic commit — the engine
    # as a Common-Crawl-style corpus producer, whose output feeds the
    # dedup/quality/LLM-pipeline plane. Off by default: the Douban-parity
    # round consumes only fields+links, and at ~50 KB/page text is the
    # round's largest Arrow-transfer + cache term (crawl.run_round note).
    emit_text: bool = False
    # Storage GC cadence: every N rounds the runner expires old snapshots
    # and deletes unreferenced tee/data dirs (FrontierStore.vacuum) so a
    # 1000-round crawl's disk stays O(state), not O(rounds). 0 disables
    # (keeps full time-travel history).
    vacuum_every: int = 16
    # AUTOTHROTTLE analog (Douban2/settings.py:29-33): feedback on budgets
    # instead of on sleep delays — backoff when fetches fail, recover when
    # clean. Off by default (parity tests pin the static-budget semantics).
    autothrottle: bool = False

    def __post_init__(self) -> None:
        # the pop position (parent_rn) is bounded by the per-host budget;
        # the discovery counter packs it into a 2^20-wide field — fail fast
        # instead of silently corrupting the FIFO order at runtime
        if self.per_host_cap >= MAX_PARENT_RN:
            raise ValueError(
                f"per_host_cap={self.per_host_cap} >= 2^20 would overflow the "
                "discovery-counter parent_rn field (seq = round*2^32 + rn*2^12 "
                "+ link_idx); use <= 1048575"
            )

    def host_budget(self, crawl_delay: float | None) -> int:
        """Per-host URLs per round: floor(round_wall / delay) capped at
        per_host_cap, where a missing or non-positive robots crawl-delay
        falls back to DEFAULT_CRAWL_DELAY."""
        d = crawl_delay if crawl_delay and crawl_delay > 0 else DEFAULT_CRAWL_DELAY
        return max(1, min(int(self.round_wall // d), self.per_host_cap))

    def next_budget_scale(self, scale: float, popped: int, missed: int) -> float:
        """AUTOTHROTTLE feedback: shrink budgets when the miss (failure)
        ratio is high, recover toward 1.0 when rounds are clean."""
        if not self.autothrottle or popped <= 0:
            return scale
        miss_ratio = missed / popped
        if miss_ratio > AT_MISS_THRESHOLD:
            return max(AT_MIN_SCALE, scale * AT_BACKOFF)
        if missed == 0:
            return min(1.0, scale * AT_RECOVER)
        return scale


def with_robots(
    queued: DataFrame, robots: DataFrame, cfg: CrawlConfig,
    budget_scale: float = 1.0, robots_count: int | None = None,
) -> DataFrame:
    """Annotate queued rows with robots verdict + per-host budget.

    Unknown hosts default-allow (reference default-allows on robots fetch
    failure, utils/robots_parser.py:66-70).

    Broadcast gating: one row per known host is NOT provably
    broadcast-sized at the 10^10-URL design point (10^7-10^8 hosts x
    deny-prefix arrays -> multi-GB), and a broadcast HINT is honored
    unconditionally. So the hint is applied only when the caller supplies
    a measured ``robots_count`` at or under
    ``BROADCAST_ROBOTS_MAX_HOSTS`` (CrawlRunner collects the static
    robots input once per run and passes its size). With no count, the join is un-hinted and
    AQE chooses from runtime stats — still a broadcast join for small
    robots tables, a shuffle join for web-scale ones.
    """
    r = robots.select(
        F.col("host").alias("_rhost"),
        F.col("deny_prefixes"),
        F.col("crawl_delay"),
    )
    if robots_count is not None and robots_count <= BROADCAST_ROBOTS_MAX_HOSTS:
        r = F.broadcast(r)
    out = queued.join(r, queued["host"] == r["_rhost"], "left").drop("_rhost")
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    denied = F.when(
        F.col("deny_prefixes").isNotNull(),
        F.exists("deny_prefixes", lambda p: path.startswith(p)),
    ).otherwise(F.lit(False))
    # missing, zero or negative crawl-delay -> the default, as in
    # CrawlConfig.host_budget (a served ``Crawl-delay: 0`` must not divide
    # round_wall by zero)
    eff_delay = F.when(F.col("crawl_delay") > 0, F.col("crawl_delay")).otherwise(
        F.lit(DEFAULT_CRAWL_DELAY)
    )
    budget = F.greatest(
        F.floor(
            F.least(
                F.greatest(
                    F.floor(F.lit(cfg.round_wall) / eff_delay),
                    F.lit(1),
                ),
                F.lit(cfg.per_host_cap),
            )
            * F.lit(budget_scale)
        ),
        F.lit(1),
    ).cast("int")
    return out.withColumn("_denied", denied).withColumn("_budget", budget).drop(
        "deny_prefixes", "crawl_delay"
    )


def pop_slice(
    frontier_state: DataFrame, robots: DataFrame, cfg: CrawlConfig,
    budget_scale: float = 1.0, robots_count: int | None = None,
):
    """One round's admission. Returns (slice, denied).

    slice rows carry ``_rn`` — the pop position within the host, 1..budget —
    which seeds the deterministic discovery counter of child links (the
    discovery-counter contract in the crawl module docstring). The window
    shuffles once on host; with the frontier partitioned by host_bucket
    this is bucket-local, and AQE handles the hot-host skew the reference
    throttles by hand.
    """
    queued = frontier_state.filter(F.col("status") == STATUS_QUEUED)
    annotated = with_robots(queued, robots, cfg, budget_scale,
                            robots_count=robots_count)
    if cfg.host_quota is not None:
        # P5 static quota: shrink each host's round budget by what it has
        # already fetched (DONE rows in the same resolved state the pop
        # reads — run_round hands pop_slice a CACHED state, so this
        # aggregate is one partial-agg pass over warm partitions, no
        # second resolve). Hosts at quota admit 0 and their backlog stays
        # queued; a raised quota on a later run resumes them.
        done_per_host = (
            frontier_state.filter(F.col("status") == STATUS_DONE)
            .groupBy("host").agg(F.count("*").alias("_done_ct"))
        )
        annotated = (
            annotated.join(done_per_host, "host", "left")
            .withColumn(
                "_budget",
                F.least(
                    F.col("_budget"),
                    F.greatest(
                        F.lit(cfg.host_quota)
                        - F.coalesce(F.col("_done_ct"), F.lit(0)),
                        F.lit(0),
                    ).cast("int"),
                ),
            )
            .drop("_done_ct")
        )
    denied = annotated.filter(F.col("_denied")).drop("_denied", "_budget")
    admissible = annotated.filter(~F.col("_denied"))

    # EXPLICIT SKEW SALTING (north_rule; SURVEY §2.3 P1): a hot host with
    # 10^7 queued rows would put its whole backlog in one window partition.
    # Two-phase top-k is semantics-preserving: phase 1 takes the top
    # `budget` rows within each (host, salt-of-fp) shard — any row in the
    # host's true top-budget is in *some* shard's top-budget — then phase 2
    # ranks the <= POP_SALTS*budget survivors per host. The heavy window is
    # salt-bounded; the exact window runs on a tiny set.
    order = [F.desc("priority"), F.asc("seq"), F.asc("fp")]
    w1 = Window.partitionBy(
        "host", F.pmod(F.xxhash64("fp"), F.lit(POP_SALTS))
    ).orderBy(*order)
    admissible = (
        admissible.withColumn("_srn", F.row_number().over(w1))
        .filter(F.col("_srn") <= F.col("_budget"))
        .drop("_srn")
    )
    w = Window.partitionBy("host").orderBy(*order)
    sliced = (
        admissible.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_budget"))
        .drop("_denied", "_budget")
    )
    if cfg.max_urls_per_round is not None:
        # global top-k via sort+limit: Spark plans this as TakeOrdered
        # (per-partition top-k, merge of k rows) — no single-partition
        # Exchange like a global row_number() window would need. Rows per
        # host are already <= budget, so k is small relative to the slice.
        sliced = sliced.orderBy(
            F.desc("priority"), F.asc("seq"), F.asc("fp")
        ).limit(cfg.max_urls_per_round)
    return sliced, denied


def link_priority_col(url_col) -> "F.Column":
    """Priority of a discovered link, derived from the rank embedded in the
    canonical URL — the reference derives it from list-page rank position
    (/root/reference/Douban2/spiders/douban2.py:160-166: rank<=100 -> 1,
    <=200 -> 0, else -1)."""
    rank = F.regexp_extract(url_col, r"/item/(\d+)$", 1)
    rank_l = F.when(rank == "", F.lit(None)).otherwise(rank).cast("long")
    return (
        F.when(rank_l.isNull(), F.lit(0))
        .when(rank_l <= LINK_PRIORITY_T1, F.lit(1))
        .when(rank_l <= LINK_PRIORITY_T2, F.lit(0))
        .otherwise(F.lit(-1))
        .cast("int")
    )


def link_priority(url: str) -> int:
    """Pure-Python twin of :func:`link_priority_col` (simulator parity)."""
    import re

    m = re.search(r"/item/(\d+)$", url)
    if not m:
        return 0
    r = int(m.group(1))
    return 1 if r <= LINK_PRIORITY_T1 else (0 if r <= LINK_PRIORITY_T2 else -1)


def revisit_schedule(
    history: DataFrame,
    base_interval: int = 1,
    max_interval: int = 64,
) -> DataFrame:
    """Freshness-driven revisit scheduling (Cho & Garcia-Molina 2003):
    from a fetch history of (url, round, fingerprint) rows, estimate
    each URL's change rate and emit the next re-crawl interval — the
    incremental-crawl policy that spends budget on pages that actually
    change. The reference crawls each URL once (its dupefilter never
    expires); a continuous 10^10-URL crawl must instead re-visit, and
    this table IS the priority input for that (feed through
    crawl.rescore_frontier or ingest_urls).

    Policy (deterministic, SQL-replayable): change_rate = observed
    content changes / revisit opportunities (consecutive fetch pairs);
    next_interval doubles per fully-static history — exponential
    backoff, clamped to [base_interval, max_interval] — and is
    inverse-proportional to change_rate otherwise
    (ceil(base/change_rate), same clamp). Single-fetch URLs get
    base_interval (no evidence yet). next_round = last_round +
    next_interval.

    Scale shape: one lag window sharded by url (10^10 urls shard on the
    key; no global sort) + one hash-agg to |urls| rows. Fingerprints
    compare as strings — any content hash (t03's md5, the seen-set
    sha1) plugs in."""
    w = Window.partitionBy("url").orderBy("round")
    steps = history.select(
        "url",
        F.col("round"),
        "fingerprint",
        F.lag("fingerprint").over(w).alias("_prev_fp"),
    )
    per = steps.groupBy("url").agg(
        F.count("*").alias("n_fetches"),
        F.sum(
            (
                F.col("_prev_fp").isNotNull()
                & (F.col("fingerprint") != F.col("_prev_fp"))
            ).cast("long")
        ).alias("n_changes"),
        F.max("round").alias("last_round"),
    )
    opp = F.col("n_fetches") - 1
    rate = F.when(opp > 0, F.col("n_changes") / opp).otherwise(F.lit(None))
    backoff = F.least(
        F.lit(max_interval),
        F.lit(base_interval)
        * F.pow(F.lit(2.0), opp.cast("double")).cast("long"),
    )
    interval = (
        F.when(opp <= 0, F.lit(base_interval))
        .when(F.col("n_changes") == 0, backoff)
        .otherwise(
            F.greatest(
                F.lit(base_interval),
                F.least(
                    F.lit(max_interval),
                    F.ceil(F.lit(float(base_interval)) / rate),
                ),
            )
        )
        .cast("int")
    )
    return per.select(
        "url",
        "n_fetches",
        "n_changes",
        F.round(rate, 6).alias("change_rate"),
        "last_round",
        interval.alias("next_interval"),
        (F.col("last_round") + interval).alias("next_round"),
    )


def crawl_delta(
    history: DataFrame,
    round_a: int,
    round_b: int,
    url_col: str = "url",
    round_col: str = "round",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Per-URL delta between two crawl rounds: (url, status, fp_a, fp_b)
    with status in {added, removed, changed, unchanged} — the recrawl
    audit every continuous crawl publishes (what changed since the last
    snapshot?) and the direct input to revisit_schedule's change-rate
    estimate. Consumes the same (url, round, fingerprint) history shape
    revisit_schedule reads — emit_text's corpus table with the t03 md5
    plugs straight in.

    Scale shape: ONE filter + ONE hash-agg, no join — both rounds'
    fingerprints come out of the same conditional-max partial
    aggregation, so the shuffle carries |urls| rows once, not a
    round-x-round join. Duplicate rows within a round (a URL fetched
    twice) resolve deterministically via max(fingerprint).
    """
    r = F.col(round_col)
    fp_a = F.max(F.when(r == round_a, F.col(fp_col))).alias("fp_a")
    fp_b = F.max(F.when(r == round_b, F.col(fp_col))).alias("fp_b")
    g = (
        history.filter(r.isin([round_a, round_b]))
        .groupBy(F.col(url_col).alias("url"))
        .agg(fp_a, fp_b)
    )
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return g.select("url", status.alias("status"), "fp_a", "fp_b")


def politeness_report(
    fetch_log: DataFrame,
    budget: int,
    host_col: str = "host",
    round_col: str = "round",
) -> DataFrame:
    """Politeness-compliance audit over the engine's own fetch_log: per
    host, how many rounds it was fetched in, total fetches, the busiest
    round's count, and whether every round stayed within the per-host
    admission ``budget`` (the N1 rate window this engine enforces
    instead of wall-clock delays — rounds are the time unit of a batch
    crawl). The report a crawl operator publishes to prove the run
    honored its politeness contract; on an all-green engine every row is
    compliant, so a false row is a regression alarm, not a statistic.

    Scale shape: two partial-aggregatable hash-aggs — (host, round)
    counts collapse map-side, then |hosts| rows; no windows, no joins.
    """
    per_round = fetch_log.groupBy(
        F.col(host_col).alias("host"), F.col(round_col).alias("round")
    ).agg(F.count("*").alias("n"))
    return per_round.groupBy("host").agg(
        F.count("*").alias("n_rounds"),
        F.sum("n").alias("total_fetches"),
        F.max("n").alias("max_round_fetches"),
    ).select(
        "host",
        "n_rounds",
        "total_fetches",
        "max_round_fetches",
        F.lit(int(budget)).alias("budget"),
        (F.col("max_round_fetches") <= budget).alias("compliant"),
    )


def host_skew_report(
    urls: DataFrame,
    n_buckets: int = 64,
    salt_threshold: int = 10_000,
    url_col: str = "url",
) -> DataFrame:
    """Partition-skew audit over a URL relation (frontier slice, seen
    set, discovered-links batch): per host-hash bucket — the P1
    placement unit the pop/fetch path shuffles on — how many URLs and
    hosts land there, which host dominates it, and whether that host is
    big enough that the bucket needs SALTING (the two-phase salted
    window :func:`pop_batch` already applies; this is the observability
    half that says WHERE and WHY). A mega-host (the classic web-crawl
    skew: one CDN domain = 20% of the frontier) shows up as top_share
    ~1.0 with needs_salt true; a healthy bucket as top_share ~1/n_hosts.

    Bucket = md5-derived host hash mod ``n_buckets`` — engine-portable
    (bit-identical in DuckDB, same trick as the MinHash shingle hash) so
    the report itself is oracle-checkable; the ENGINE's real placement
    uses Spark's native hash partitioning, which this audits by proxy
    (any stable hash exposes the same per-host mass).

    Scale shape: two partial-aggregatable hash-aggs — (bucket, host)
    counts collapse map-side so the shuffle carries |distinct hosts|
    rows, then |buckets| rows; the winner is a min(struct) (top count,
    ties -> lexicographically first host), never a window over raw URLs.
    """
    from .urlfilter import host_col

    host = host_col(F.col(url_col))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(host), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )
    per_host = urls.groupBy(
        bucket.alias("bucket"), host.alias("host")
    ).agg(F.count("*").alias("n"))
    return (
        per_host.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_urls"),
            F.count("*").alias("n_hosts"),
            F.min(
                F.struct((-F.col("n")).alias("neg_n"), F.col("host"))
            ).alias("top"),
        )
        .select(
            "bucket",
            "n_urls",
            "n_hosts",
            F.col("top.host").alias("top_host"),
            (-F.col("top.neg_n")).alias("top_host_n"),
            F.round(-F.col("top.neg_n") / F.col("n_urls"), 6).alias(
                "top_share"
            ),
            (-F.col("top.neg_n") >= salt_threshold).alias("needs_salt"),
        )
    )


def latency_percentiles(
    log: DataFrame,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    ps: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Per-host fetch-latency percentiles — the feedback signal
    AUTOTHROTTLE tunes delay with (Scrapy's AutoThrottle targets a
    latency-derived delay per slot; the reference inherits it via
    settings). p50 drives the steady-state delay, p95 catches the host
    that is fast on average but stalls under load.

    Percentile semantics are DISCRETE (percentile_disc): the value at
    rank ``ceil(p * n)`` in ascending order — an actual observed
    latency, no interpolation arithmetic, so the result is
    engine-portable bit-for-bit (ties in latency are harmless: any
    permutation of equal values puts the same VALUE at a given rank).

    Scale shape: one window partitioned by host (parallel across hosts;
    a round's fetch log is O(round), not O(corpus), and per-host groups
    are bounded by the politeness budget itself) + one hash-agg. For
    corpus-lifetime logs at 10^10 rows swap in approx_percentile — this
    exact variant is the calibration/audit path that VALIDATES the
    sketch, same division of labor as q14b/q14c.

    Output per host: (host, n_fetches, p50, p95, ...) one column per
    requested percentile.
    """
    w = Window.partitionBy(host_col).orderBy(F.asc(latency_col))
    wp = Window.partitionBy(host_col)
    ranked = (
        log.select(host_col, latency_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wp))
    )
    picks = [
        F.max(
            F.when(
                F.col("_rn") == F.ceil(F.lit(float(p)) * F.col("_n")),
                F.col(latency_col),
            )
        ).alias(f"p{int(round(p * 100))}")
        for p in ps
    ]
    return ranked.groupBy(host_col).agg(
        F.max("_n").cast("long").alias("n_fetches"), *picks
    )

# -- per-host crawl-budget apportionment ----------------------------------------


def crawl_budget_plan(
    host_scores: DataFrame,
    total_budget: int,
    host_col: str = "host",
    score_col: str = "score",
) -> DataFrame:
    """Apportion a global per-round fetch budget across hosts in
    proportion to a score relation (PageRank mass from
    :func:`crawlspark.graph.pagerank`, quality from
    :func:`crawlspark.textops.domain_stats`, or plain frontier depth) —
    the planning step that turns the engine's quality/link-analysis
    plane back into crawl admission (OPIC's "crawl where the cash is").
    The reference has no cross-host planner (its quotas are static
    per-node splits, Douban2/settings.py); this is the scale-shaped
    replacement SURVEY §2 P5 points at.

    Largest-remainder (Hamilton) apportionment, so the budgets are
    integers that sum EXACTLY to total_budget: quota = total·score/Σscore,
    every host gets floor(quota), and the total − Σfloor leftover goes
    +1 each to the hosts with the largest fractional remainders
    (ties → host ascending, so the plan is deterministic and
    engine-portable; quota is one multiply + one divide on doubles —
    an identical IEEE expression tree on any engine, the t50 trick).

    Scale shape: the input is already a per-host aggregate (|hosts|
    rows, ≤10^7 for the whole web) — the two global windows (Σfloor and
    the remainder rank) run over that aggregate, never over raw
    frontier rows; this is the t26/t50 bounded-aggregate pattern.
    Hosts with score ≤ 0 are dropped (no budget).

    Output: (host, score, base, extra, budget) with sum(budget) ==
    total_budget whenever any positive-score host exists.
    """
    hs = host_scores.filter(F.col(score_col) > 0).select(
        F.col(host_col).alias("host"), F.col(score_col).alias("score")
    )
    tot = hs.agg(F.sum("score").cast("double").alias("_tot"))
    quota = F.lit(int(total_budget)).cast("double") * F.col("score").cast(
        "double"
    ) / F.col("_tot")
    based = (
        hs.crossJoin(tot)
        .withColumn("_quota", quota)
        .withColumn("base", F.floor("_quota").cast("long"))
        .withColumn("_rem", F.col("_quota") - F.col("base"))
    )
    w_all = Window.partitionBy(F.lit(1))
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("_rem"), F.asc("host")
    )
    return (
        based.withColumn(
            "_leftover", F.lit(int(total_budget)) - F.sum("base").over(w_all)
        )
        .withColumn("_rank", F.row_number().over(w_rank))
        .select(
            "host",
            "score",
            "base",
            F.when(F.col("_rank") <= F.col("_leftover"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("extra"),
            (
                F.col("base")
                + F.when(F.col("_rank") <= F.col("_leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("budget"),
        )
    )


def cache_control_hints(
    fetches: "DataFrame",
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    headers_col: str = "headers",
    default_age: int = 86400,
    min_age: int = 60,
    max_age_cap: int = 604800,
) -> "DataFrame":
    """HTTP Cache-Control -> revisit hints: turn the freshness lifetime
    the SERVER declares (RFC 9111 max-age / no-cache / no-store) into a
    next-fetch timestamp per URL — the header-driven complement of
    :func:`revisit_schedule` (which infers change rate from observed
    fetch history; production crawlers combine both, header hints
    bootstrapping urls with no history yet). The reference ignores
    caching headers entirely (Scrapy's HttpCacheMiddleware is not
    enabled in its settings).

    Precedence per RFC 9111 §5.2: no-store > no-cache > max-age >
    absent (``default_age``). no-store/no-cache mean "revalidate next
    chance" -> ``min_age``; max-age is clamped to [min_age,
    max_age_cap] (a year-long max-age must not freeze a frontier row
    forever, and 0/negative values collapse to the floor). Expires
    dates are out of scope (HTTP-date parsing is a decode-kernel
    concern; max-age overrides Expires wherever both appear anyway).

    Scale shape: stateless projection — two case-insensitive regexps +
    integer arithmetic inside scan codegen, zero shuffles, no Python.
    Output: (url, fetch_ts, directive, max_age, next_fetch_ts).
    """
    h = F.col(headers_col)
    cc = F.regexp_extract(h, r"(?im)^cache-control:\s*([^\r\n]*)", 1)
    has_cc = cc != ""
    lcc = F.lower(cc)
    raw_age = F.regexp_extract(lcc, r"max-age\s*=\s*(-?\d+)", 1)
    directive = (
        F.when(~has_cc, F.lit("none"))
        .when(lcc.rlike(r"(^|[,\s])no-store($|[,\s])"), F.lit("no-store"))
        .when(lcc.rlike(r"(^|[,\s])no-cache($|[,\s])"), F.lit("no-cache"))
        .when(raw_age != "", F.lit("max-age"))
        .otherwise(F.lit("none"))
    )
    age = (
        F.when(directive.isin("no-store", "no-cache"), F.lit(min_age))
        .when(
            directive == "max-age",
            F.greatest(
                F.lit(min_age),
                F.least(
                    # try_cast: an absurd 30-digit max-age must clamp to
                    # the cap (null here -> least picks the cap), not
                    # throw under ANSI overflow
                    F.lit(max_age_cap).cast("long"),
                    raw_age.try_cast("long"),
                ),
            ),
        )
        .otherwise(F.lit(default_age))
        .cast("long")
    )
    ts = F.col(ts_col).cast("long")
    return fetches.select(
        F.col(url_col).alias("url"),
        ts.alias("fetch_ts"),
        directive.alias("directive"),
        age.alias("max_age"),
        (ts + age).alias("next_fetch_ts"),
    )


def frontier_age_report(
    ops: "DataFrame",
    url_col: str = "url",
    round_col: str = "round",
    op_col: str = "op",
) -> "DataFrame":
    """Frontier-age histogram: how many rounds URLs sit queued between
    discovery (first ``insert`` op) and fetch (first ``done`` op) — the
    queue-latency observable that tells a crawl operator whether
    priority classes are starving (a growing tail here is how trap
    explosions and skewed hosts show up BEFORE throughput drops). The
    reference exposes queue length only (its scheduler len(),
    /root/reference/scheduler.py); age needs the event log a snapshot
    store keeps anyway.

    Input: a frontier op log (url, round, op) — the shape
    store.FrontierStore's ops table already has. Never-fetched URLs are
    excluded from the histogram (their age is censored, not observed)
    but surfaced as the single ``age = -1`` row so the pending mass is
    visible in the same card.

    Scale shape: one conditional-min hash-agg per url (partial-
    aggregated map-side — the shuffle carries |distinct urls|, never the
    log), then one hash-agg to the bounded age histogram; the share
    window runs over that tiny aggregate only (the t26/t50 pattern).
    """
    from pyspark.sql import Window

    per = ops.groupBy(F.col(url_col).alias("url")).agg(
        F.min(
            F.when(F.col(op_col) == "insert", F.col(round_col))
        ).alias("ins"),
        F.min(
            F.when(F.col(op_col) == "done", F.col(round_col))
        ).alias("done"),
    )
    aged = per.filter(F.col("ins").isNotNull()).select(
        F.when(
            F.col("done").isNotNull(),
            (F.col("done") - F.col("ins")).cast("long"),
        )
        .otherwise(F.lit(-1).cast("long"))
        .alias("age")
    )
    hist = aged.groupBy("age").agg(F.count("*").cast("long").alias("n_urls"))
    w = Window.partitionBy()
    return hist.select(
        "age",
        "n_urls",
        F.round(
            F.col("n_urls").cast("double") / F.sum("n_urls").over(w), 6
        ).alias("share"),
    )


def politeness_ceiling(
    queue_counts: DataFrame,
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
    bottleneck_seconds: float = 3600.0,
) -> DataFrame:
    """The politeness-bound throughput plan — the planning card behind
    the north-star framing itself (the reference's 0.60 URL/s is
    politeness-bound, not compute-bound): per host, the maximum
    sustainable fetch rate is ``1 / crawl_delay`` regardless of cluster
    size, so a frontier's drain time is ``n_queued x crawl_delay`` and
    the CRAWL-WIDE ceiling is ``sum(1/delay)`` over hosts with work —
    adding executors past that buys nothing (scale the host count, not
    the cluster). Every large crawler plans against this identity; the
    engine's admission budgets (N1-N3) enforce it per round, this
    operator exposes it per frontier.

    Input: ``queue_counts`` (host, n_queued) — e.g. the frontier's
    queued counts; ``delays`` (host, crawl_delay) — e.g.
    :func:`crawlspark.robots.robots_directive_stats` output; missing,
    NULL, or NONPOSITIVE delays fall back to ``default_delay`` — a
    served ``Crawl-delay: 0`` must not divide max_rate by zero (Spark's
    Divide returns NULL there while DuckDB returns inf: a latent engine
    mismatch and a NULL in a planning card), and the clamp matches the
    admission engine's own CrawlConfig.host_budget semantics. One
    left join + pure column algebra, zero windows. Output: (host, n_queued,
    crawl_delay, max_rate, drain_seconds, is_bottleneck) — flagged
    when a single host alone needs more than ``bottleneck_seconds`` to
    drain politely (the long-tail host that dominates crawl wall time;
    route it to revisit/requeue policy instead of waiting).
    """
    q = queue_counts.select(
        F.col("host"), F.col("n_queued").cast("long").alias("n_queued")
    )
    if delays is not None:
        d = delays.select("host", F.col("crawl_delay").cast("double"))
        q = q.join(d, "host", "left")
    else:
        q = q.withColumn("crawl_delay", F.lit(None).cast("double"))
    delay = F.when(F.col("crawl_delay") > 0, F.col("crawl_delay")).otherwise(
        F.lit(float(default_delay))
    )
    return q.select(
        "host",
        "n_queued",
        F.round(delay, 6).alias("crawl_delay"),
        F.round(F.lit(1.0) / delay, 6).alias("max_rate"),
        F.round(F.col("n_queued").cast("double") * delay, 6).alias(
            "drain_seconds"
        ),
        (F.col("n_queued").cast("double") * delay
         >= float(bottleneck_seconds)).alias("is_bottleneck"),
    )


def round_admission_plan(
    queue_counts: DataFrame,
    host_scores: DataFrame,
    total_budget: int,
    round_wall: float,
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
) -> DataFrame:
    """The full per-round admission composition — the three planning
    planes this engine computes, intersected the way a real scheduler
    must: a host's admitted fetch count is
    ``min(score budget, politeness cap, queue depth)`` where the score
    budget is :func:`crawl_budget_plan`'s largest-remainder share of
    ``total_budget``, the politeness cap is
    ``floor(round_wall / crawl_delay)`` (the :func:`politeness_ceiling`
    identity applied to one round), and the queue depth is what the
    frontier actually holds. The three caps come from three different
    planes (link/quality analysis, robots, frontier state); any
    scheduler that applies fewer over- or under-crawls some host.

    Scale shape: every input is a per-host aggregate; one
    crawl_budget_plan (windows over |hosts|), two left equi-joins,
    pure column algebra — no new windows. Output: (host, n_queued,
    budget, politeness_cap, admitted, leftover) where leftover =
    n_queued - admitted stays for the next round. Hosts with no
    positive score get budget 0 (crawl_budget_plan's contract) but
    still appear, carrying their queue.

    Semantics notes: (a) NULL or NONPOSITIVE delays clamp to
    ``default_delay`` BEFORE the floor division — otherwise a served
    ``Crawl-delay: 0`` makes politeness_cap NULL and ``F.least`` skips
    NULLs, silently DROPPING the politeness cap from the min; (b) budget
    apportioned by crawl_budget_plan to hosts absent from
    ``queue_counts`` is deliberately NOT redistributed: the plan is
    per-round, the unspent share simply under-fills this round
    (sum(admitted) <= total_budget is the conservative direction for a
    politeness-bound system), and the next round's plan re-apportions
    over the hosts that then have work.
    """
    q = queue_counts.select(
        "host", F.col("n_queued").cast("long").alias("n_queued")
    )
    b = crawl_budget_plan(host_scores, total_budget).select("host", "budget")
    if delays is not None:
        d = delays.select("host", F.col("crawl_delay").cast("double"))
        q = q.join(d, "host", "left")
    else:
        q = q.withColumn("crawl_delay", F.lit(None).cast("double"))
    delay = F.when(F.col("crawl_delay") > 0, F.col("crawl_delay")).otherwise(
        F.lit(float(default_delay))
    )
    cap = F.floor(F.lit(float(round_wall)) / delay).cast("long")
    admitted = F.least(
        F.coalesce(F.col("budget"), F.lit(0).cast("long")),
        F.col("_cap"),
        F.col("n_queued"),
    )
    return (
        q.join(b, "host", "left")
        .withColumn("_cap", cap)
        .select(
            "host",
            "n_queued",
            F.coalesce("budget", F.lit(0).cast("long")).alias("budget"),
            F.col("_cap").alias("politeness_cap"),
            admitted.alias("admitted"),
            (F.col("n_queued") - admitted).alias("leftover"),
        )
    )


def retry_outcome_report(
    fetch_log: DataFrame,
    url_col: str = "url",
    retry_col: str = "retry_count",
    status_col: str = "status",
) -> DataFrame:
    """The N9 retry-policy observable: per retry tier (0 = first
    attempt, 1 = first retry, ...), how many urls landed there and what
    share ultimately succeeded — the curve that says whether retries
    are EARNING anything (a flat success rate across tiers means the
    failures are permanent and the retry budget is pure politeness-
    window waste; the reference's RETRY_TIMES=3 is a blind constant,
    this measures what it buys). Feed it back into
    CrawlConfig.max_retries.

    Per url the FINAL attempt decides the outcome: one lexicographic
    max(struct(retry, status)) hash-agg collapses the log to |urls|
    (partial-aggregated map-side; the oracle replays it as a
    row_number window), then one bounded hash-agg to |tiers| rows. Success = 2xx status on the final
    attempt. Output: (retry_count, n_urls, n_success, success_rate)
    sorted-free (driver compare is order-insensitive).
    """
    per_url = (
        fetch_log.select(
            F.col(url_col).alias("url"),
            F.col(retry_col).cast("long").alias("r"),
            F.col(status_col).cast("long").alias("s"),
        )
        .groupBy("url")
        .agg(F.max(F.struct("r", "s")).alias("_m"))
        .select(
            "url",
            F.col("_m.r").alias("retry_count"),
            ((F.col("_m.s") >= 200) & (F.col("_m.s") < 300))
            .cast("long")
            .alias("ok"),
        )
    )
    return (
        per_url.groupBy("retry_count")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum("ok").cast("long").alias("n_success"),
        )
        .select(
            "retry_count",
            "n_urls",
            "n_success",
            F.round(
                F.col("n_success").cast("double") / F.col("n_urls"), 6
            ).alias("success_rate"),
        )
    )


def crawl_yield_curve(
    metrics: DataFrame,
    round_col: str = "round",
    fetched_col: str = "fetched",
    links_col: str = "new_links",
    saturation_rate: float = 0.1,
) -> DataFrame:
    """Per-round discovery-decay curve from the engine's own metrics
    rows: fetches, newly discovered links, the discovery rate
    (new_links / fetched — the frontier's reproduction number: above 1
    the crawl is still expanding, below it the frontier is draining),
    cumulative totals, and a saturation flag once the rate falls under
    ``saturation_rate``. THE stop/budget question for a broad crawl —
    "is another round still buying new URLs?" — answered from data the
    rounds already persisted (Q8's metrics), no extra crawl-time work.

    Shape: one hash-agg to |rounds| rows (metrics may hold several rows
    per round across resumes — summed), then single-partition windows
    over that bounded relation (rounds are thousands at most, never
    corpus-sized). Output: (round, fetched, new_links, discovery_rate,
    cum_fetched, cum_new_links, saturated).
    """
    per = metrics.groupBy(F.col(round_col).alias("round")).agg(
        F.sum(fetched_col).cast("long").alias("fetched"),
        F.sum(links_col).cast("long").alias("new_links"),
    )
    w = Window.orderBy("round").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.when(
        F.col("fetched") > 0,
        F.round(
            F.col("new_links").cast("double") / F.col("fetched").cast("double"),
            6,
        ),
    )
    return per.select(
        "round",
        "fetched",
        "new_links",
        rate.alias("discovery_rate"),
        F.sum("fetched").over(w).cast("long").alias("cum_fetched"),
        F.sum("new_links").over(w).cast("long").alias("cum_new_links"),
        F.coalesce(rate < float(saturation_rate), F.lit(False)).alias(
            "saturated"
        ),
    )
