"""The two crawl workloads: ``crawl_bulk`` and ``crawl_polite``.

Both build a ``synth.SiteSpec`` site from the seed and crawl it through
``CrawlRunner.init``/``run`` with ``emit_text`` on, so the round also writes
the extracted-text corpus table. A crawl is cut at one round: the seed list
is the site's list pages, each followed by the raw links on it (at the list
page's priority), so the round fetches most of the site, and the links it
extracts are mostly already seen.

``crawl_bulk``: a Zipf-skewed 12-host site (~24 list pages, ~1,200 detail
pages) whose pages ``synth.inflate_pages`` pads to Common-Crawl size
(~30 KB of html + text each). The budgets are unthrottled (``round_wall``
huge, ``per_host_cap`` just under its 2^20 bound), so the round pops every
seed and fetches through the join path. The fetch join, the ``kernels``
extract pass and the corpus write do most of the work.

``crawl_polite``: 16 uniform hosts with one small, uninflated list page of
40 items each, on the default politeness budgets (30 URLs per host per
round). The seeds keep the generator's dead links, ``/private/`` robots
denials and non-canonical link forms. The round pops at most 480 URLs, so
it fetches through the small-slice point-lookup path, and the per-host cap
leaves ~10 URLs a host queued. Per-round fixed cost dominates: the
merge-on-read ``frontier_state`` resolve, the pop window, the seen
anti-join, the tee write and the manifest commits.

Both crawls run storage housekeeping at a shorter cadence than the
defaults, so that it fires inside them: compaction at 2 delta files per
table and ``vacuum`` after every round (after one round it has no snapshot
to expire yet, so it times only the scan).

There is no warm-up crawl: a run starts one JVM, and the crawl it measures
is the first one in it, so JIT and code generation are part of the measured
crawl. Set-up only starts the Python workers, one per core, with the kernels
imported. A warm-up crawl costs more than a cold one on a 4-core machine,
and a run has to fit in about a minute.

An operation is one ``run_round``. After the timer stops, each crawl is
checked against ``simulator.simulate`` on the same site and config (fetch
sequence per round and the seen set), and its corpus against the input
pages (one row per fetched URL, ``text`` byte-identical to ``pages.text``).
"""

from __future__ import annotations

import dataclasses
import random
import statistics
import time
import traceback

from harness import Bench, Result, Tracer, dir_bytes, read_event_log, sum_groups


@dataclasses.dataclass(frozen=True)
class Shape:
    site: dict                # SiteSpec arguments besides the seed
    cfg: dict                 # CrawlConfig arguments besides the common ones
    pad_words: int = 0        # synth.inflate_pages padding; 0 = uninflated


SHAPES = {
    "crawl_bulk": Shape(
        site={"n_hosts": 12, "lists_per_host": 2, "per_list": 50, "zipf_s": 1.2,
              "dead_links_per_host": 0, "slow_hosts": 0},
        cfg={"round_wall": 1e9, "per_host_cap": 2**20 - 1},
        pad_words=2000,
    ),
    "crawl_polite": Shape(
        site={"n_hosts": 16, "lists_per_host": 1, "per_list": 40, "zipf_s": 0.0,
              "slow_hosts": 0},
        cfg={},
    ),
}
# housekeeping cadence short enough to fire inside a 1-round crawl
# (defaults: compaction at 8 delta files per table, vacuum every 16 rounds)
COMPACT_EVERY = 2
VACUUM_EVERY = 1
ROUNDS = 1
PROBE_REPS = 3
PROBE_PAGES = 400


def _noop(df) -> None:
    """Materialize every row and column without collecting."""
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _materialize_pages(b: Bench, shape: Shape, site: dict) -> str:
    """Write the site's pages as parquet, inflated if the shape asks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from crawlspark.synth import inflate_pages

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    raw = b.path("data", "raw_pages.parquet")
    pq.write_table(pa.Table.from_pylist(site["pages"], schema=schema), raw)
    if not shape.pad_words:
        return raw
    out = b.path("data", "pages.parquet")
    inflate_pages(b.spark.read.parquet(raw), shape.pad_words).write.parquet(out)
    return out


def _seeds(site: dict) -> list[dict]:
    """The site's list-page seeds, each followed by the raw links on its
    page at the list page's priority."""
    from crawlspark.kernels import extract_page

    html = {p["url"]: p["html"] for p in site["pages"]}
    out: list[dict] = []
    for s in site["seeds"]:
        out.append(dict(s, seq=len(out)))
        for url in extract_page(s["url"], html[s["url"]], False)["links"]:
            out.append({"url": url, "priority": s["priority"], "seq": len(out)})
    return out


def _store_counters(store, counts: list[dict]) -> dict:
    """Storage counters read from the store directory after a crawl.

    Snapshot ids grow by one per commit, so the commits a table received
    beyond the ones its rounds explain are compaction rewrites; snapshot
    ids with no manifest left were expired by ``vacuum``."""
    rounds = len(counts)
    expected = {
        store.frontier: 1 + rounds,
        store.seen: 1 + sum(1 for c in counts if c.get("new_links")),
        store.results: sum(1 for c in counts if c.get("items")),
        store.fetch_log: sum(1 for c in counts if c.get("fetched")),
        store.corpus: sum(1 for c in counts if c.get("fetched")),
        store.metrics: rounds,
    }
    compactions = expired = delta_max = 0
    for table, n_commits in expected.items():
        sid = table._current_id() or 0
        compactions += sid - n_commits
        expired += sid - len(table.snapshots())
        delta_max = max(delta_max, table.n_delta_files())
    return {"bytes": dir_bytes(store.root), "compactions": compactions,
            "expired_manifests": expired, "delta_files_max": delta_max}


def _check(runner, counts: list[dict], sim, pages) -> set[int]:
    """Rounds whose output disagrees with the oracle."""
    from pyspark.sql import functions as F

    bad: set[int] = set()
    got: dict[int, list] = {}
    for row in runner.fetch_sequence():
        got.setdefault(row[0], []).append(row)
    want: dict[int, list] = {}
    for row in sim.fetch_sequence:
        want.setdefault(row[0], []).append(row)
    for r in set(got) | set(want):
        if got.get(r) != want.get(r):
            bad.add(r)
    last = len(counts) - 1
    if len(counts) != sim.rounds or runner.seen_urls() != sim.seen_urls:
        bad.add(last)
    corpus = runner.store.corpus_state()
    if corpus is None:
        return bad | {last}
    fetched = sum(c.get("fetched", 0) for c in counts)
    n_rows, n_urls = corpus.agg(F.count("*"), F.countDistinct("url")).first()
    if n_rows != fetched or n_urls != n_rows:
        bad.add(last)
    # byte identity of every corpus text with the input page's text
    want_text = pages.select("url", F.col("text").alias("want_text"))
    differs = (corpus.join(want_text, "url", "left")
               .filter(~F.col("text").eqNullSafe(F.col("want_text")))
               .select("crawl_round").distinct().collect())
    return bad | {r[0] for r in differs}


def _wrap_layers(tracer: Tracer) -> None:
    """Spans around the public calls of each crawl layer (traced runs)."""
    import crawlspark.crawl as crawl_mod
    import crawlspark.runner as runner_mod
    from crawlspark.fetch import CorpusFetchBackend
    from crawlspark.runner import CrawlRunner
    from crawlspark.store import FrontierStore, SnapshotStore

    tracer.wrap(CrawlRunner, "init", "runner.init")
    tracer.wrap(CrawlRunner, "run", "runner.run")
    tracer.wrap(runner_mod, "seed_frontier", "crawl.seed_frontier")
    tracer.wrap(crawl_mod, "pop_slice", "scheduler.pop_slice")
    tracer.wrap(crawl_mod, "extract_records_and_links", "kernels.extract_records_and_links")
    tracer.wrap(CorpusFetchBackend, "fetch", "fetch.fetch")
    tracer.wrap(FrontierStore, "commit_round", "store.commit_round")
    tracer.wrap(FrontierStore, "vacuum", "store.vacuum")
    tracer.wrap(SnapshotStore, "overwrite", "store.compaction")


def _record_round(sp, args, kwargs, out) -> None:
    sp.attrs.update(queued_before=kwargs.get("queued_before"),
                    popped=out.get("popped", 0), fetched=out.get("fetched", 0))


def _probes(b: Bench, store, pages, robots, cfg, site) -> dict[str, float]:
    """Materialized calls of the lazy layers, on the final store snapshot
    and on fixed seeded samples (their spans only time planning)."""
    from crawlspark.fetch import CorpusFetchBackend
    from crawlspark.kernels import canonicalize_urls, extract_page, extract_records_and_links
    from crawlspark.scheduler import pop_slice
    from pyspark.sql import functions as F

    spark = b.spark
    out = {"store.frontier_resolve_s": _median_time(lambda: _noop(store.frontier_state()))}

    state = store.frontier_state().cache()
    state.count()
    n_robots = robots.count()

    def pop():
        sliced, denied = pop_slice(state, robots, cfg, robots_count=n_robots)
        _noop(sliced)
        _noop(denied)

    out["scheduler.pop_s"] = _median_time(pop)
    state.unpersist()

    rng = random.Random(b.seed)
    urls = sorted(p["url"] for p in site["pages"])
    sample = rng.sample(urls, 200) + [f"https://h000.example.com/dead/probe{i}" for i in range(10)]
    url_df = spark.createDataFrame([(u,) for u in sample], "url string")
    out["fetch.lookup_s.point"] = _median_time(
        lambda: _noop(CorpusFetchBackend(pages, point_lookup=True).fetch(url_df)))
    out["fetch.lookup_s.join"] = _median_time(
        lambda: _noop(CorpusFetchBackend(pages, broadcast_slice=True).fetch(url_df)))

    page_sample = spark.createDataFrame(
        [(u,) for u in rng.sample(urls, min(PROBE_PAGES, len(urls)))], "url string")
    html = pages.join(page_sample, "url", "left_semi").select("url", "html").cache()
    n_pages = html.count()
    out["kernels.extract_pages_per_s"] = n_pages / _median_time(
        lambda: _noop(extract_records_and_links(html, include_text=True)))
    html.unpersist()

    links = [u for p in site["pages"] for u in extract_page(p["url"], p["html"], False)["links"]]
    link_df = spark.createDataFrame([(u,) for u in links], "url string").cache()
    link_df.count()
    out["kernels.canonicalize_urls_per_s"] = len(links) / _median_time(
        lambda: _noop(link_df.select(canonicalize_urls(F.col("url")).alias("u"))))
    link_df.unpersist()
    return out


def run(b: Bench) -> Result:
    from crawlspark import runner as runner_mod
    from crawlspark.kernels import canonicalize_urls
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import ROBOTS, SEEDS
    from crawlspark.simulator import simulate
    from crawlspark.synth import SiteSpec, generate_site
    from pyspark.sql import functions as F

    shape = SHAPES[b.workload]
    cfg = CrawlConfig(emit_text=True, vacuum_every=VACUUM_EVERY, **shape.cfg)

    # ---- set-up, timed once, cold: JVM launch and session start, site
    # generation, corpus materialization and Python worker start -----------
    t_setup = time.perf_counter()
    start_s = b.start_session()
    spark = b.spark
    t_gen = time.perf_counter()
    site = generate_site(SiteSpec(seed=b.seed, **shape.site))
    pages = spark.read.parquet(_materialize_pages(b, shape, site))
    seed_rows = _seeds(site)
    seeds = spark.createDataFrame(seed_rows, schema=SEEDS)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    # warm-up: one Python worker per core, with the kernels imported
    t_warm = time.perf_counter()
    _noop(seeds.repartition(b.cpus).select(canonicalize_urls(F.col("url"))))
    t_start = time.perf_counter()
    setup_s = t_start - t_setup
    input_s = t_warm - t_gen

    # ---- measured window ----------------------------------------------------
    tracer = Tracer(spark.sparkContext if b.trace else None)
    tracer.wrap(runner_mod, "run_round", "crawl.run_round", on_call=_record_round)
    if b.trace:
        _wrap_layers(tracer)
    b.rss.reset()
    crawls = []
    while True:
        runner = CrawlRunner(spark, b.path(f"store{len(crawls)}"), cfg)
        runner.store.COMPACT_EVERY = COMPACT_EVERY
        with tracer.span("crawl") as csp:
            t0 = time.perf_counter()
            try:
                runner.init(seeds)
                res = runner.run(pages, robots, max_rounds=ROUNDS)
                error = None
            except Exception:  # a failed crawl is a failed op, not a crash
                res, error = None, traceback.format_exc()
            wall = time.perf_counter() - t0
        crawls.append({"runner": runner, "res": res, "error": error, "wall": wall, "span": csp})
        if time.perf_counter() - t_start >= b.seconds:
            break
    tracer.restore()
    peak_mb = b.rss.peak_mb
    t_check = time.perf_counter()

    # ---- correctness, after the timer ------------------------------------
    sim = simulate({p["url"]: p["html"] for p in site["pages"]},
                   seed_rows, site["robots"], cfg, max_rounds=ROUNDS)
    attempted = failed = 0
    notes = []
    for c in crawls:
        rounds = tracer.named("crawl.run_round", within=c["span"])
        attempted += max(len(rounds), 1)
        if c["error"] is not None:
            failed += 1
            notes.append("crawl failed:\n" + c["error"])
            continue
        counts = c["res"].counts
        c["bad"] = _check(c["runner"], counts, sim, pages)
        failed += len(c["bad"])
        c["store"] = _store_counters(c["runner"].store, counts)
        c["fetched"] = c["res"].total_fetched
    ok = [c for c in crawls if c["error"] is None]
    fetched = sum(c["fetched"] for c in ok)
    wall = sum(c["wall"] for c in ok)
    round_s = [s.dur for s in tracer.named("crawl.run_round")]
    e2e = {
        "setup_s": setup_s,
        "urls_per_s": fetched / wall if wall else 0.0,
        "peak_rss_mb": peak_mb,
    }
    notes.append(f"phases: setup {setup_s:.1f}s (session {start_s:.1f}s, "
                 f"input {input_s:.1f}s, warm-up {t_start - t_warm:.1f}s) "
                 f"measure {t_check - t_start:.1f}s check {time.perf_counter() - t_check:.1f}s")
    notes.append(f"round walls: {[round(x, 2) for x in round_s]}")
    notes.append(f"crawls={len(crawls)} rounds={len(round_s)} urls_fetched={fetched} "
                 f"sim_rounds={sim.rounds} sim_fetched={len(sim.fetch_sequence)}")
    for c in ok:
        st = c["store"]
        notes.append(
            f"store counters: bytes_per_url={st['bytes'] / max(c['fetched'], 1):.1f} "
            f"delta_files_max={st['delta_files_max']} compactions={st['compactions']} "
            f"expired_manifests={st['expired_manifests']}")

    layer: dict[str, float] = {}
    if b.trace and ok:
        layer.update(_probes(b, ok[-1]["runner"].store, pages, robots, cfg, site))
        layer.update(_layer_metrics(b, tracer, ok))
    layer["session.start_s"] = start_s
    layer["session.input_s"] = input_s
    return Result(attempted=attempted, failed=failed, end_to_end=e2e,
                  per_layer=layer, notes=notes)


def _layer_metrics(b: Bench, tracer: Tracer, crawls: list[dict]) -> dict:
    log = b.event_log()
    b.stop_spark()  # completes the event log
    stats = read_event_log(log)
    n = len(crawls)
    rounds = tracer.named("crawl.run_round")
    per_round = [sum_groups(stats, tracer.subtree_groups(r)) for r in rounds]
    crawl_tot = sum_groups(stats, set().union(*(tracer.subtree_groups(c["span"]) for c in crawls)))
    fetched = sum(c["fetched"] for c in crawls)
    popped = sum(r.attrs.get("popped", 0) for r in rounds)
    queued = sum(r.attrs.get("queued_before") or 0 for r in rounds)
    run_spans = tracer.named("runner.run")
    compactions = tracer.named("store.compaction")
    vacuums = tracer.named("store.vacuum")
    wall = sum(c["wall"] for c in crawls)
    return {
        "runner.rounds": len(rounds) / n,
        "runner.between_rounds_s": sum(
            tracer.self_time(s, {"crawl.run_round"}) for s in run_spans) / n,
        "crawl.round_self_s": statistics.median(
            tracer.self_time(r, {"store.commit_round"}) for r in rounds),
        "crawl.jobs_per_round": statistics.median(p["jobs"] for p in per_round),
        "crawl.tasks_per_round": statistics.median(p["tasks"] for p in per_round),
        "crawl.seed_s": statistics.median(s.dur for s in tracer.named("crawl.seed_frontier")),
        "crawl.shuffle_bytes_per_url": crawl_tot["shuffle_bytes"] / fetched,
        "crawl.spill_bytes": crawl_tot["spill_bytes"] / n,
        "scheduler.admit_ratio": popped / queued if queued else 0.0,
        "fetch.hit_ratio": sum(r.attrs.get("fetched", 0) for r in rounds) / popped,
        "store.commit_s": statistics.median(s.dur for s in tracer.named("store.commit_round")),
        "store.compactions": sum(c["store"]["compactions"] for c in crawls) / n,
        "store.compaction_s": sum(s.dur for s in compactions) / n,
        "store.vacuums": len(vacuums) / n,
        "store.vacuum_s": sum(s.dur for s in vacuums) / n,
        "store.bytes_per_url": sum(c["store"]["bytes"] for c in crawls) / fetched,
        "store.delta_files_max": max(c["store"]["delta_files_max"] for c in crawls),
        "spark.gc_s": crawl_tot["gc_s"] / len(rounds),
        "spark.task_s": crawl_tot["task_s"] / len(rounds),
        "spark.tasks": crawl_tot["tasks"] / len(rounds),
        "trace.urls_per_s": fetched / wall,
        "trace.cost_s": tracer.cost_s / len(rounds),
    }
