"""The fetch-extract-emit round — one scheduler round as a few Spark
actions (21 Spark jobs on the traced ``crawl_polite`` benchmark, see
``run_round``).

Spark-native restatement of the reference's per-request loop (SURVEY §3.1):
Redis ZSET pop -> middleware chain -> Twisted HTTP GET -> XPath parse ->
pipeline upsert becomes, per round:

    pop slice (window)                       [Q2+N1-N5]
    -> robots admit/deny (broadcast join)    [N4]
    -> FETCH = slice join pages on url       [F1; "fetch" = lookup into the
       Common-Crawl-style corpus, per BASELINE.json input_hint]
    -> extract_records_and_links kernel      [F2-F4, Arrow]
    -> validate/cast -> upsert results       [F5-F6, S1]
    -> explode links -> canonicalize -> fp   [F3, D2]
    -> anti-join seen -> merge frontier+seen [D1, Q1]
    -> mark done/retry/exhausted/denied      [P4, N9]
    -> metrics + atomic snapshot commit      [Q8, S9]

Discovery-counter contract (the north_rule's "per-host FIFO within priority
class" tiebreak, made deterministic *and* shuffle-free): a child link's

    seq = (round+1) * 2^32  +  parent_rn * 2^12  +  link_idx

where ``parent_rn`` is the parent's pop position within its host (1..budget)
and ``link_idx`` the link's position on the page. Monotone across rounds,
FIFO within a host's discoveries, computed arithmetically — no global
row_number, no extra shuffle. Residual ties (same rn on different parent
hosts) break on fp — the pure-Python simulator (simulator.py) implements
the identical contract and the order-parity test compares fetch sequences
exactly. Bounds: rounds < 2^31, parent_rn < 2^20, links/page < 2^12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .fetch import CorpusFetchBackend
from .kernels import canonicalize_urls, extract_records_and_links, fingerprint_col, host_bucket_col, host_col
from .schema import (
    FRONTIER,
    MAX_PARENT_RN,
    S_PARENT,
    S_ROUND,
    STATUS_DONE,
    STATUS_EXHAUSTED,
    STATUS_QUEUED,
    STATUS_ROBOTS_DENIED,
)
from .registry import heartbeat_metrics
from .scheduler import CrawlConfig, link_priority_col, pop_slice
from .store import TEE_SCHEMA, FrontierStore

_FRONTIER_COLS = [f.name for f in FRONTIER.fields]

# Broadcast size gate for the per-round slice joins (F1 fetch join + the
# done/missed/fetch_log semi-joins): a broadcast HINT is honored
# unconditionally by Spark — AQE never demotes it — so a 10^7-row round
# slice hinted broadcast is a driver/executor OOM, not a slow plan.
# run_round broadcasts only when the round's ACTUAL popped count (known
# before the fetch) is at or under this bound; bigger slices take a plain
# equi-join on url and AQE/sort-merge handles them. 1M urls ~ 80 MB
# serialized — safe for standard 4-8 GB executors.
BROADCAST_SLICE_MAX_ROWS = 1_000_000
# Tiny-slice point-lookup gate (seed rounds, retry tails): when the round's
# actual popped count is at or under this, the default fetch skips the
# corpus-scanning join entirely and pushes the url list into the parquet
# scan as an In() filter — bucket pruning (at production bucket counts,
# e.g. 4096) plus row-group skipping via url blooms instead of an
# O(corpus) scan to fetch a handful of URLs. The driver-side url collect is
# bounded by this gate. Deliberately small: pushed-In evaluation cost grows
# linearly with the probe count (measured on a 500k-page bucketed corpus,
# warm cache: In(200) 4.7 s, In(1500) 10.8 s, In(3000) 18.5 s vs 4.0 s for
# the scan+broadcast join), so thousands of probes are better served by
# the join.
POINT_LOOKUP_MAX_URLS = 500


def _tee_row(table: str, cols: dict) -> "F.Column":
    """One tee row of ``table`` as a struct in the ``TEE_SCHEMA`` layout:
    the given columns cast to their tee types, every other column null.
    A source row's tee rows are built side by side as
    ``inline(array(row, ...))`` — one pass, instead of a union of branches
    that each recompute the source."""
    return F.struct(F.lit(table).alias("_table"), *[
        (cols[f.name] if f.name in cols else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in TEE_SCHEMA.fields
    ])


def _cols(*names: str, **exprs) -> dict:
    """Tee-row columns: ``names`` taken as they are, ``exprs`` computed."""
    return {**{c: F.col(c) for c in names}, **exprs}


def _count_where(cond):
    return F.sum(F.when(cond, 1).otherwise(0))


def _write_tee(store: FrontierStore, tee: DataFrame) -> tuple[str, bool]:
    """The round's ONE table write: rebalance + partitionBy(_table)
    parquet write; per-table counts are collected by the Observation the
    caller attached — no separate count jobs, no collect()s. On the traced
    ``crawl_polite`` benchmark (seed 7) it runs 5 Spark jobs for a round's
    tee and 3 for the seed tee (AQE stages of one write).

    REBALANCE hint (not a bare repartition): AQE right-sizes the
    write toward the 64m advisory AND splits skewed partitions
    (OptimizeSkewInRebalancePartitions) — a 10^8-row round whose results
    partition dwarfs the frontier marks no longer bottlenecks one write
    task. Sub-advisory rounds still coalesce subject to the
    parallelism floor; the store's compaction keeps long-crawl file
    counts bounded either way.

    Returns (shared_dir, has_data). has_data is read driver-side from the
    output layout: a dynamic-partition write of an EMPTY DataFrame creates
    no ``_table=`` subdirs — and, a Spark quirk, also never materializes
    the attached Observation's metrics (obs.get would raise). Callers must
    consult has_data BEFORE touching the Observation."""
    import os

    shared = store.shared_write_dir()
    (
        tee.hint("rebalance", "_table", "url")
        .write.partitionBy("_table")
        # bloom filter on the fingerprint column (SURVEY D1): the
        # Parquet-native stand-in for the reference's Redis SET membership
        # probe — point lookups / IN-filters on fp skip row groups whose
        # bloom says "absent" (measured over 8M fps in 16 files: absent-fp
        # lookups 2.53x faster, present-fp 1.94x, for +4% file size)
        .option("parquet.bloom.filter.enabled#fp", "true")
        .mode("overwrite")
        .parquet(shared)
    )
    has_data = any(n.startswith("_table=") for n in os.listdir(shared))
    return shared, has_data


def _tee_new_urls(
    store: FrontierStore,
    urls: DataFrame,
    cfg: CrawlConfig,
    discovered_round: int,
    seen: DataFrame | None = None,
) -> tuple[str, dict | None]:
    """Write (url, priority, seq) rows as queued depth-0 frontier rows plus
    their seen-set rows, in one tee write: canonicalize, fingerprint,
    bucket, keep the lowest seq per fp, drop fps already in ``seen``.
    Inserts carry op_seq = 1, so any later mark beats them. Returns the tee
    dir and the per-table row counts — None when nothing was written."""
    rows = (
        urls.withColumn("url", canonicalize_urls(F.col("url")))
        .withColumn("fp", fingerprint_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .withColumn("host_bucket", host_bucket_col(F.col("host"), cfg.n_buckets))
        .withColumn("depth", F.lit(0))
        .withColumn("status", F.lit(STATUS_QUEUED))
        .withColumn("retry_count", F.lit(0))
        .withColumn("discovered_round", F.lit(discovered_round))
        .withColumn("op_seq", F.lit(1).cast("long"))
    )
    w = Window.partitionBy("fp").orderBy(F.asc("seq"))
    rows = rows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    if seen is not None:
        rows = rows.join(seen.select("fp"), "fp", "left_anti")
    tee = rows.select(F.inline(F.array(
        _tee_row("frontier", _cols(*_FRONTIER_COLS)),
        _tee_row("seen", _cols("fp", "url", "host_bucket",
                               first_round=F.lit(discovered_round))),
    )))
    obs = Observation()
    tee = tee.observe(
        obs,
        _count_where(F.col("_table") == "frontier").alias("frontier"),
        _count_where(F.col("_table") == "seen").alias("seen"),
    )
    shared, has_data = _write_tee(store, tee)
    if not has_data:
        return shared, None
    vals = obs.get
    return shared, {"frontier": int(vals["frontier"] or 0), "seen": int(vals["seen"] or 0)}


def seed_frontier(spark: SparkSession, store: FrontierStore, seeds: DataFrame, cfg: CrawlConfig) -> dict:
    """Seed injection (Q3/Q10): an ``ingest_urls`` of the seeds, so
    re-seeding a crawl adds only unseen URLs at its current round and
    keeps its history (the reference keeps its Redis queue and dupefilter
    across runs, SCHEDULER_PERSIST=True). On an empty store the commit
    lands at round −1 and its tee write is 3 Spark jobs on the traced
    ``crawl_polite`` benchmark (seed 7). Raises only when the store is
    empty and nothing was written."""
    out = ingest_urls(spark, store, seeds, cfg)
    if not out["ingested"] and store.frontier.manifest() is None:
        raise ValueError("seed_frontier: empty seed set")
    return out


def ingest_urls(spark: SparkSession, store: FrontierStore, urls: DataFrame, cfg: CrawlConfig) -> dict:
    """Mid-crawl URL injection (Q5-Q7 analog: the reference's Kafka
    url_manager consuming discovered/seed URLs continuously,
    /root/reference/url_manager/kafka_url_manager.py). Canonicalize ->
    fingerprint -> anti-join the seen set -> one tee write committing
    frontier + seen. Idempotent: re-ingesting the same URLs is a no-op.

    ``urls`` needs (url, priority, seq); rows are queued at depth 0 with
    op_seq = 1 (an insert — any later mark beats it). The commit lands at
    the frontier's current round and adds the new rows to the queued
    count — the frontier commit protocol, ``FrontierStore``; it may race
    a ``run_round`` commit (continuous ``stream_url_ingest`` mode)."""
    # the rows' discovered_round stamp; the commit picks its own round
    shared, n = _tee_new_urls(store, urls, cfg, max(store.landing_round(), 0),
                              seen=store.seen_state())
    if n is None:
        return {"ingested": 0}
    store.commit_round(shared, n, meta={"phase": "ingest"}, queued_delta=n["frontier"])
    return {"ingested": n["frontier"]}


def rescore_frontier(store: FrontierStore, scores: DataFrame) -> dict:
    """Re-prioritize QUEUED frontier rows from a score table — the
    OPIC/PageRank application (Abiteboul et al. 2003; graph.pagerank
    produces the scores from the crawl's own transition graph): big
    crawlers periodically re-rank their queue so link-important URLs
    pop first. The reference's analog is the priority field its
    dispatcher assigns per URL (/root/reference/url_dispatcher/
    url_dispatcher.py:176-179) — here the whole queue re-ranks in one
    pass.

    ``scores``: (url, priority) with canonical urls (they normally come
    from the engine's own frontier/fetch_log, already canonical) and an
    integer priority (higher pops sooner). Unmatched queued rows keep
    their current priority; non-queued rows are never touched.

    Mechanics: resolve state, join scores, ``FrontierStore.rewrite_frontier``
    — the compaction shape, content-preserving except the priority
    column, so op_seq arithmetic is untouched (a rescore delta row
    cannot be expressed in the 4r+k op_seq lattice without colliding
    with insert/mark slots) and the queued count carries across
    unchanged (frontier commit protocol, ``FrontierStore``). Cost is
    O(frontier-state) like any compaction; run it every k rounds, not
    per round, and BETWEEN rounds on the driver thread. The commit is
    meta-flagged a rewrite, so added_since() consumers skip it."""
    state = store.frontier_state()
    if state is None:
        return {"rescored": 0}
    s = scores.select(
        F.col("url"), F.col("priority").cast("int").alias("_new_prio")
    ).dropDuplicates(["url"])
    joined = state.join(s, "url", "left")
    rescored = joined.withColumn(
        "priority",
        F.when(
            (F.col("status") == STATUS_QUEUED) & F.col("_new_prio").isNotNull(),
            F.col("_new_prio"),
        ).otherwise(F.col("priority")),
    ).drop("_new_prio")
    n_changed = rescored.filter(
        (F.col("status") == STATUS_QUEUED)
    ).join(s, "url", "left_semi").count()
    store.rewrite_frontier(rescored.select(*_FRONTIER_COLS), {"rescore": True})
    return {"rescored": n_changed}


def requeue_urls(store: FrontierStore, urls: DataFrame) -> dict:
    """Flip DONE frontier rows back to QUEUED — the revisit application
    (scheduler.revisit_schedule decides WHICH urls are due; this makes
    the decision actionable). The reference never re-crawls (its
    RFPDupeFilter set never expires, /root/reference/dupefilter.py —
    same default here); a continuous crawl re-visits changing pages, and
    the seen-set must keep suppressing duplicate INSERTS while the
    existing row re-enters the queue — so requeue is a status
    transition on the frontier row, not a seen-set mutation.

    ``urls``: (url[, priority]) — already-canonical urls (they come from
    the engine's own fetch history). Rows not currently DONE are
    ignored (queued rows are already in line; unknown urls go through
    ingest_urls, which owns the insert lattice). When a priority column
    is present it replaces the row's priority (revisit_schedule callers
    typically boost fast-changing urls).

    Mechanics: same shape as rescore_frontier — resolve state, flip
    matching rows, ``FrontierStore.rewrite_frontier`` with the flipped
    rows as its queued delta (frontier commit protocol,
    ``FrontierStore``); run it BETWEEN rounds on the driver thread.
    op_seq stays: the next pop marks done at op_seq 4r+2 with the NEW
    round r, which resolves above the kept value exactly like any
    re-mark. runner.run() then continues a "finished" crawl."""
    state = store.frontier_state()
    if state is None:
        return {"requeued": 0}
    cols = [F.col("url"), F.lit(True).alias("_req")]
    if "priority" in urls.columns:
        cols.append(F.col("priority").cast("int").alias("_new_prio"))
    s = urls.select(*cols).dropDuplicates(["url"])
    joined = state.join(s, "url", "left")
    flip = (F.col("status") == STATUS_DONE) & F.col("_req").isNotNull()
    n_requeued = state.filter(F.col("status") == STATUS_DONE).join(
        s, "url", "left_semi"
    ).count()
    # priority first: ``flip`` reads the status column, which the status
    # rewrite below replaces
    requeued = joined
    if "_new_prio" in requeued.columns:
        requeued = requeued.withColumn(
            "priority",
            F.when(
                flip & F.col("_new_prio").isNotNull(), F.col("_new_prio")
            ).otherwise(F.col("priority")),
        )
    requeued = requeued.withColumn(
        "status", F.when(flip, F.lit(STATUS_QUEUED)).otherwise(F.col("status"))
    ).drop("_req", "_new_prio")
    store.rewrite_frontier(requeued.select(*_FRONTIER_COLS), {"requeue": True},
                           queued_delta=n_requeued)
    return {"requeued": n_requeued}


def run_round(
    spark: SparkSession,
    store: FrontierStore,
    pages: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    budget_scale: float = 1.0,
    backend=None,
    queued_before: int | None = None,
    robots_count: int | None = None,
) -> dict:
    """Execute one round; returns metric counts.

    All of the round's table writes are ONE tee write carrying frontier
    marks + new frontier rows + seen inserts + results + fetch_log,
    partitioned by ``_table``, with every count the round commits
    collected by an attached Observation during that same write; writing
    each table separately would add a driver-serial action per table.
    The tee has four branches, each emitting a source row's tee rows in
    one pass: the slice joined once to the fetched set (a mark per row,
    plus a fetch_log row per hit), the robots denials, the discovered
    rows (frontier + seen) and the results. Metrics rows are a few KB —
    written driver-side via pyarrow, zero jobs. Before the tee write, two
    actions materialize the cached pop slice + robots denials (one count)
    and the fetched+extracted set (the emit_text corpus write, or a
    count); AQE stages and broadcast sub-jobs fan each action out into
    several Spark jobs. Measured on the traced ``crawl_polite`` benchmark
    (480 URLs, seed 7): 21 Spark jobs per round — 13 before the tee
    write, 5 for it, and 3 in ``commit_round``, all for the compaction
    that fires there.

    The round commits through ``FrontierStore.commit_round`` at
    ``round_no``, with its queued delta and ``queued_before`` (the frontier
    commit protocol, ``FrontierStore``); the returned counts carry the
    ``queued_after`` it wrote.
    """
    state = store.frontier_state()
    if state is None:
        return {"popped": 0}
    # cache the resolved state: both the pop slice and the denied branch
    # derive from it, and the merge-on-read window must not run twice
    state = state.cache()
    sliced, denied = pop_slice(state, robots, cfg, budget_scale,
                               robots_count=robots_count)
    # cached: the early-exit count below materializes the pop once, and
    # the tee's mark branches then read it warm instead of re-running the
    # pop windows (and their broadcast sub-jobs) inside the tee job.
    sliced = sliced.cache()
    denied = denied.cache()
    # early-exit counts (one action for both branches)
    pd_counts = dict(
        sliced.select(F.lit("p").alias("_t"))
        .unionByName(denied.select(F.lit("d").alias("_t")))
        .groupBy("_t").count().collect()
    )
    n_popped_pre = int(pd_counts.get("p", 0))
    n_denied_pre = int(pd_counts.get("d", 0))
    if n_popped_pre == 0 and n_denied_pre == 0:
        state.unpersist()
        sliced.unpersist()
        denied.unpersist()
        return {"popped": 0}

    # F1 fetch, behind the FetchBackend seam (N7). Broadcast gating: the
    # popped count is already known, so the slice joins broadcast
    # only when the round is provably small (BROADCAST_SLICE_MAX_ROWS);
    # a 10^7-row round at the 10^10-URL design point instead takes plain
    # equi-joins on url (sort-merge / AQE — pages bucketed by url make it
    # cheap), because a broadcast HINT is honored regardless of size and
    # would OOM the driver. Misses are computed against the (slice-sized)
    # hit set, never by anti-joining the full corpus.
    small_slice = n_popped_pre <= BROADCAST_SLICE_MAX_ROWS
    _bcast = F.broadcast if small_slice else (lambda df: df)
    if backend is None:
        backend = CorpusFetchBackend(
            pages,
            broadcast_slice=small_slice,
            # tiny rounds (seeds, retry tails) take the pushed-In point
            # lookup instead of scanning the corpus to probe a broadcast
            # hash relation — see CorpusFetchBackend docstring
            point_lookup=0 < n_popped_pre <= POINT_LOOKUP_MAX_URLS,
        )
    slice_ctx = sliced.select("fp", "url", "host", "host_bucket", "priority", "depth", "seq", "retry_count", "discovered_round", "_rn")
    hits_raw = backend.fetch(slice_ctx.select("url"))

    # include_text=False + drop: the round never consumes extracted text
    # (results carry fields, not text), but df.cache() materializes EVERY
    # column of the cached plan — at ~50 KB/page the text column made the
    # cache build the single largest stage of an e2e round (measured 107 s
    # of a 126 s round at 100k pages x 8 cores; the extract kernel alone
    # is ~26 s). Column pruning cannot reach through a cache or into a
    # mapInPandas schema, so text is skipped at the SOURCE.
    #
    # A backend MUST return at most one row per url (FetchBackend
    # contract); enforce it here anyway — every downstream count
    # (fetched/items, the runner's arithmetic queued tracking, fetch_log
    # lineage) assumes it, and a custom HTTP backend with retries can
    # easily emit duplicates. The dedup runs AFTER the extract kernel: a
    # broadcast fetch-join's output has no url partitioning, so a dedup
    # placed before extract hash-shuffles the hit set WITH its html
    # payload (measured: the whole ~11 GB corpus body at 500k pages —
    # the largest bandwidth term of the round); after extract the same
    # shuffle carries ~3 KB/row of extracted fields+links. A duplicate
    # url costs one redundant kernel invocation, the winner stays
    # arbitrary, and every count is taken downstream of the dedup. A
    # backend that declares unique_by_url (the default corpus join over
    # a url-keyed pages table) skips the enforcement shuffle entirely.
    # emit_text (north_star "extracts byte-identical text per url"): the
    # corpus-building mode — each fetched page's extracted text is
    # persisted to the `corpus` output table with the round's atomic
    # commit, turning the crawl into a Common-Crawl-style corpus producer
    # (the input of the LLM-pipeline plane). Off by default: the
    # Douban-parity round consumes only fields+links, and text is the
    # round's largest transfer term (see the include_text note).
    emit_text = cfg.emit_text
    ext = extract_records_and_links(hits_raw, include_text=emit_text)
    if not emit_text:
        ext = ext.drop("text")
    if not backend.unique_by_url:
        ext = ext.dropDuplicates(["url"])
    ext = ext.join(_bcast(slice_ctx), "url", "inner")
    corpus_dir = corpus_schema = None
    if emit_text:
        # emit_text: the materializing action IS the corpus write. Caching
        # ext WITH text (at ~50 KB/page the block manager materializes the
        # round's whole text mass in executor heaps — GC/spill pressure,
        # measured as the largest steady-round term) would then SERIALIZE
        # the same text a second time through the tee. Instead the round's
        # fetch-join + extract pipeline streams straight into snappy
        # parquet ONCE — a wide file (text + extraction fields + slice
        # ctx) committed to the `corpus` table, whose declared columns
        # (url, text, crawl_round) prune the extras at read time
        # (SnapshotStore wide-file contract). Downstream branches
        # re-read the staging files COLUMN-PRUNED: the text bytes are
        # never scanned again, and nothing re-runs the kernel.
        corpus_dir = store.shared_write_dir()
        staged = ext.withColumn("crawl_round", F.lit(round_no))
        corpus_schema = staged.schema
        obs = Observation()
        (
            # ext rows == fetched URLs (ext is url-unique, see above): the
            # write's observed row count IS n_fetched
            staged.observe(obs, F.count(F.lit(1)).alias("n"))
            # url blooms: the corpus table doubles as a fetch/point-lookup
            # target (same contract as write_bucketed_pages)
            .write.option("parquet.bloom.filter.enabled#url", "true")
            .mode("overwrite")
            .parquet(corpus_dir)
        )
        n_fetched = int(obs.get["n"])
        ext = spark.read.schema(corpus_schema).parquet(corpus_dir).drop("crawl_round")
    else:
        ext = ext.cache()
        # materialize the extract kernel ONCE (ext rows == fetched URLs —
        # this count IS n_fetched) so the tee job's branches read a warm
        # cache instead of racing the whole fetch+parse pipeline behind
        # their broadcast sub-jobs
        n_fetched = ext.count()

    # F5/F6 validate + cast; S1 upsert-by-rank
    records = (
        ext.filter(
            (F.col("kind") == "detail")
            & F.col("name").isNotNull()
            & F.col("rank").isNotNull()
            & (F.col("rank") >= 1)
        )
        .select(
            "rank", "name", "rate", "num", "genres", "url",
            F.lit(round_no).alias("crawl_round"),
        )
    )

    # F3/D1/D2: link discovery -> canonicalize -> fingerprint -> dedup
    links = (
        ext.select(
            F.col("url").alias("parent_url"),
            F.col("depth").alias("parent_depth"),
            F.col("_rn").alias("parent_rn"),
            F.posexplode("links").alias("link_idx", "raw_url"),
        )
        .withColumn("url", canonicalize_urls(F.col("raw_url")))
        .filter(F.col("url").startswith("http"))
        .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
        .filter(F.col("depth") <= cfg.max_depth)
        .withColumn("fp", fingerprint_col(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .withColumn("host_bucket", host_bucket_col(F.col("host"), cfg.n_buckets))
        .withColumn("priority", link_priority_col(F.col("url")))
        .withColumn(
            "seq",
            # bounds enforced loudly: a page with >= 2^12 links
            # or a parent_rn >= 2^20 would silently spill into the next
            # field and corrupt the FIFO contract — raise instead.
            # (parent_rn < 2^20 is also guaranteed statically by
            # CrawlConfig.__post_init__ bounding the pop budget.)
            F.when(
                (F.col("link_idx") < F.lit(S_PARENT))
                & (F.col("parent_rn") < F.lit(MAX_PARENT_RN)),
                F.lit((round_no + 1) * S_ROUND)
                + F.col("parent_rn").cast("long") * F.lit(S_PARENT)
                + F.col("link_idx").cast("long"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("discovery-counter bounds exceeded: parent_rn="),
                        F.col("parent_rn").cast("string"),
                        F.lit(" link_idx="),
                        F.col("link_idx").cast("string"),
                    )
                ).cast("long")
            ),
        )
        .withColumn("status", F.lit(STATUS_QUEUED))
        .withColumn("retry_count", F.lit(0))
        .withColumn("discovered_round", F.lit(round_no))
        .withColumn("op_seq", F.lit((round_no + 1) * 4 + 1).cast("long"))
    )
    # in-batch dedup (D3): deterministic winner = lowest (seq, url)
    w_fp = Window.partitionBy("fp").orderBy(F.asc("seq"), F.asc("url"))
    links = links.withColumn("_r", F.row_number().over(w_fp)).filter(F.col("_r") == 1).drop("_r")

    seen = store.seen_state()
    new_rows = links
    if seen is not None:
        new_rows = new_rows.join(seen.select("fp"), "fp", "left_anti")

    # ---- the round's tee: one write, four branches ----
    # status marks (op_seq = round*4+2 always beats the insert op_seq of any
    # earlier round, see store.py docstring). Each slice row joins the
    # fetched set once (ext is url-unique) and emits its mark — DONE on a
    # hit; on a miss (P4/N9) a requeue at max priority with retry_count+1,
    # or EXHAUSTED after max_retries (RETRY_TIMES=3 analog) — plus its
    # fetch_log row on a hit.
    mark_op = F.lit(round_no * 4 + 2).cast("long")
    hit = F.col("_hit").isNotNull()
    retry = ~hit & (F.col("retry_count") < cfg.max_retries - 1)
    mark = _tee_row("frontier", _cols(
        *_FRONTIER_COLS,
        status=F.when(hit, F.lit(STATUS_DONE))
        .when(retry, F.lit(STATUS_QUEUED))
        .otherwise(F.lit(STATUS_EXHAUSTED)),
        retry_count=F.when(hit, F.col("retry_count")).otherwise(F.col("retry_count") + 1),
        priority=F.when(retry, F.lit(1)).otherwise(F.col("priority")),
        op_seq=mark_op,
    ))
    log_row = _tee_row("fetch_log", _cols(
        "host", "url", "priority", "seq", round=F.lit(round_no), rn=F.col("_rn"),
    ))
    fetched_urls = ext.select("url", F.lit(True).alias("_hit"))
    tee = (
        sliced.join(_bcast(fetched_urls), "url", "left")
        .select(F.inline(F.filter(
            F.array(mark, F.when(hit, log_row)), lambda r: r.isNotNull()
        )))
        .unionByName(denied.select(F.inline(F.array(_tee_row("frontier", _cols(
            *_FRONTIER_COLS, status=F.lit(STATUS_ROBOTS_DENIED), op_seq=mark_op,
        ))))))
        .unionByName(new_rows.select(F.inline(F.array(
            _tee_row("frontier", _cols(*_FRONTIER_COLS)),
            _tee_row("seen", _cols("fp", "url", "host_bucket",
                                   first_round=F.lit(round_no))),
        ))))
        .unionByName(records.select(F.inline(F.array(
            _tee_row("results", _cols(*records.columns))
        ))))
    )
    # (emit_text: the corpus files were already written by the staging
    # write — the tee never carries the text a second time; commit_round
    # references the staging dir directly)
    # Only seen/results/exhausted counts are unknown at this point
    # (popped/denied and fetched were counted above) — the attached
    # Observation collects them during the write itself.
    obs = Observation()
    tee = tee.observe(
        obs,
        _count_where(F.col("_table") == "seen").alias("seen"),
        _count_where(F.col("_table") == "results").alias("results"),
        _count_where(
            (F.col("_table") == "frontier")
            & (F.col("op_seq") == F.lit(round_no * 4 + 2))
            & (F.col("status") == STATUS_EXHAUSTED)
        ).alias("exhausted"),
    )
    shared, has_data = _write_tee(store, tee)

    state.unpersist()
    sliced.unpersist()
    denied.unpersist()
    ext.unpersist()

    if not has_data:
        # defensive: popped+denied > 0 implies mark rows exist, so the tee
        # can't be empty — but never touch obs on an empty write (its
        # metrics never materialize under a partitionBy write of 0 rows)
        return {"popped": 0}

    vals = obs.get
    n_new = int(vals.get("seen") or 0)
    n_items = int(vals.get("results") or 0)
    n_exhausted = int(vals.get("exhausted") or 0)
    counts = {
        "popped": n_popped_pre,
        "fetched": n_fetched,
        "missed": n_popped_pre - n_fetched,
        "denied": n_denied_pre,
        "new_links": n_new,
        "items": n_items,
        "exhausted": n_exhausted,
    }
    queued_after = store.commit_round(
        shared,
        {"frontier": n_popped_pre + n_denied_pre + n_new, "seen": n_new,
         "results": n_items, "fetch_log": n_fetched,
         # one corpus row per fetched url (ext is url-unique) — the
         # staging write already counted them
         "corpus": n_fetched if emit_text else 0},
        round_no,
        corpus_dir=corpus_dir,
        corpus_schema=corpus_schema,
        meta={"counts": counts},
        metrics_rows=[(round_no, k, int(v)) for k, v in counts.items()]
        # P3 heartbeat observable: executor registry snapshot at commit
        # time, from Spark's own status tracker (one driver-side RPC —
        # liveness itself is the cluster manager's job, registry.py)
        + heartbeat_metrics(spark, round_no),
        # retried rows stay queued; fetched, exhausted and denied rows
        # leave the queue, discovered rows join it
        queued_delta=n_new - n_fetched - n_exhausted - n_denied_pre,
        queued_before=queued_before,
    )
    if queued_after is not None:
        counts["queued_after"] = queued_after
    return counts
