"""Kill-resume parity (north_rule): a run killed after round k and resumed
must converge to exactly the same frontier state, seen set, fetch order and
results as an uninterrupted run. Also covers the scrapy-redis
SCHEDULER_PERSIST=True semantics (reopen from snapshot,
/root/reference/Douban2/settings.py:72) — SURVEY §5.3/§5.5."""

from __future__ import annotations

import json
import shutil

import pyspark.sql.functions as F

from crawlspark.runner import CrawlRunner
from crawlspark.scheduler import CrawlConfig
from crawlspark.schema import PAGES, ROBOTS, SEEDS
from crawlspark.synth import SiteSpec, generate_site

# round_wall=25 (r5, judge #8): same multi-round semantics (slow host
# still needs 3-4 rounds; kill-after-1 leaves real work) at ~half the
# rounds — per-round cost is fixed overhead at this scale
CFG = CrawlConfig(round_wall=25.0, max_depth=1)


def _dfs(spark, site):
    return (
        spark.createDataFrame(site["pages"], schema=PAGES),
        spark.createDataFrame(site["seeds"], schema=SEEDS),
        spark.createDataFrame(site["robots"], schema=ROBOTS),
    )


def _final_state(runner: CrawlRunner):
    frontier = {
        (r["fp"], r["status"], r["retry_count"])
        for r in runner.store.frontier_state().collect()
    }
    return frontier, runner.seen_urls(), runner.fetch_sequence(), {
        r["rank"]: r["url"] for r in (runner.store.results_state() or []).collect()
    }


def test_kill_after_round_k_resume_identical(spark, tmp_path):
    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=4, per_list=6, seed=11))
    pages, seeds, robots = _dfs(spark, site)

    # uninterrupted reference run
    ref = CrawlRunner(spark, str(tmp_path / "ref"), CFG)
    ref.init(seeds)
    ref.run(pages, robots)

    # killed-and-resumed run: stop after round 1, reopen a NEW runner
    killed = CrawlRunner(spark, str(tmp_path / "kill"), CFG)
    killed.init(seeds)
    killed.run(pages, robots, stop_after_round=1)
    # the same killed store as written before manifest entries recorded
    # their files' schema: readers fall back to schema inference. (Tee
    # files are referenced by absolute path; the copy points at its own.)
    shutil.copytree(tmp_path / "kill", tmp_path / "old")
    stripped = 0
    for mpath in (tmp_path / "old").glob("*/manifests/*.json"):
        m = json.loads(mpath.read_text().replace(
            str(tmp_path / "kill"), str(tmp_path / "old")))
        for f in m["files"]:
            stripped += f.pop("schema", None) is not None
        mpath.write_text(json.dumps(m))
    assert stripped > 0

    for store in ("kill", "old"):
        resumed = CrawlRunner(spark, str(tmp_path / store), CFG)  # fresh handle
        assert resumed.resume_round() == 2
        resumed.run(pages, robots)
        assert _final_state(resumed) == _final_state(ref), store


def test_resume_rolls_back_sibling_tables(spark, tmp_path):
    """Simulate a crash mid-round: sibling tables committed ahead of the
    frontier get rolled back to the frontier's round on reopen."""
    from crawlspark.schema import METRICS

    site = generate_site(SiteSpec(n_hosts=1, lists_per_host=3, per_list=4, seed=5))
    pages, seeds, robots = _dfs(spark, site)
    r1 = CrawlRunner(spark, str(tmp_path / "c"), CFG)
    r1.init(seeds)
    r1.run(pages, robots, stop_after_round=0)
    # fake a mid-round-1 crash: metrics for round 1 committed, frontier not
    r1.store.append_metrics(
        spark.createDataFrame([(1, "popped", 99)], schema=METRICS), round_no=1
    )
    r2 = CrawlRunner(spark, str(tmp_path / "c"), CFG)
    assert r2.resume_round() == 1
    m = r2.store.metrics_state()
    assert m.filter(F.col("round") == 1).count() == 0  # rolled back


def test_mid_crawl_ingest_preserves_round_chain(spark, tmp_path):
    """ADVICE r2 (high): an ingest AFTER several crawl rounds must commit at
    the store's CURRENT round — not round 0 — or the next resume rolls every
    sibling table back to 0, discarding later rounds' snapshots and leaving
    re-queued rows stuck 'queued' (their marks' op_seq loses to the higher
    insert op_seqs of later rounds). Re-seeding is an ingest too: a second
    init adds only unseen URLs at the current round, and re-seeding known
    URLs commits nothing."""
    from crawlspark.crawl import ingest_urls
    from crawlspark.schema import SEEDS

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=3, per_list=5, seed=23))
    pages, seeds, robots = _dfs(spark, site)
    root = str(tmp_path / "mid")
    runner = CrawlRunner(spark, root, CFG)
    runner.init(seeds)
    runner.run(pages, robots)  # run to drain (several rounds)

    last = runner.store.last_committed_round()
    assert last is not None and last >= 1
    results_before = {
        r["rank"]: r["url"] for r in runner.store.results_state().collect()
    }
    seen_before = runner.seen_urls()
    fetched_before = runner.fetch_sequence()
    assert results_before and seen_before

    # mid-crawl ingest of a NOT-yet-seen URL
    host = site["pages"][0]["url"].split("/")[2]
    new_url = f"https://{host}/brand-new-page"  # canonical form == itself
    out = ingest_urls(
        spark, runner.store,
        spark.createDataFrame([(new_url, 1, 10**9)], schema=SEEDS), CFG,
    )
    assert out["ingested"] == 1
    # the ingest commit must NOT regress the frontier's round
    assert runner.store.last_committed_round() == last

    # re-init with one new URL: an ingest at the current round
    seeded_url = f"https://{host}/re-seeded-page"
    runner.init(spark.createDataFrame([(seeded_url, 1, 10**9 + 1)], schema=SEEDS))
    assert runner.store.last_committed_round() == last
    # re-init with the original seeds: every URL is known, nothing commits
    tables = (runner.store.frontier, runner.store.seen, runner.store.results,
              runner.store.fetch_log, runner.store.metrics, runner.store.corpus)
    heads = [t._current_id() for t in tables]
    runner.init(seeds)
    assert [t._current_id() for t in tables] == heads
    assert runner.store.last_committed_round() == last
    assert runner.store.queued_after_hint() == runner.queued_count() == 2
    seen = runner.store.seen_state()
    assert seen.count() == seen.select("fp").distinct().count()

    # fresh handle = resume: nothing may be rolled back or re-crawled
    resumed = CrawlRunner(spark, root, CFG)
    assert resumed.resume_round() == last + 1
    assert resumed.seen_urls() == seen_before | {new_url, seeded_url}
    assert resumed.fetch_sequence() == fetched_before
    assert {
        r["rank"]: r["url"] for r in resumed.store.results_state().collect()
    } == results_before
    # continuing the crawl pops ONLY the two added URLs (dead links here ->
    # they retry then exhaust); nothing previously done is re-crawled
    res = resumed.run(pages, robots)
    assert res.total_fetched == 0  # not in the corpus -> miss
    assert sum(c.get("popped", 0) for c in res.counts) <= 2 * CFG.max_retries
    assert {
        r["rank"]: r["url"] for r in resumed.store.results_state().collect()
    } == results_before


def test_concurrent_ingest_folds_into_round_commit(spark, tmp_path):
    """ADVICE r3 (medium): an ingest_urls commit landing while run_round is
    mid-flight (continuous stream_url_ingest mode) must not vanish from the
    persisted queued count. Deterministic reproduction of the exact race:
    the caller reads queued_before, THEN an ingest commits, THEN run_round
    commits with the stale queued_before — the fold must re-read the hint
    at commit time so the ingested rows stay counted (and therefore get
    crawled instead of stranded)."""
    from crawlspark.crawl import ingest_urls, run_round
    from crawlspark.schema import SEEDS, STATUS_QUEUED

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=3, per_list=4, seed=31))
    pages, seeds, robots = _dfs(spark, site)
    root = str(tmp_path / "race-a")
    runner = CrawlRunner(spark, root, CFG)
    runner.init(seeds)
    runner.run(pages, robots, stop_after_round=0)

    # the runner's loop would read queued here...
    stale_queued_before = runner.store.queued_after_hint()
    assert stale_queued_before is not None and stale_queued_before > 0

    # ...then a concurrent ingest commits 3 unseen URLs...
    host = site["pages"][0]["url"].split("/")[2]
    extra = [(f"https://{host}/injected-{i}", 1, 10**9 + i) for i in range(3)]
    out = ingest_urls(
        spark, runner.store, spark.createDataFrame(extra, schema=SEEDS), CFG
    )
    assert out["ingested"] == 3
    assert runner.store.queued_after_hint() == stale_queued_before + 3

    # ...and run_round commits with the STALE queued_before
    next_round = runner.store.last_committed_round() + 1
    c = run_round(
        spark, runner.store, pages, robots, CFG, next_round,
        queued_before=stale_queued_before,
    )
    # the persisted hint must equal the TRUE queued count (count job), i.e.
    # the fold recovered the +3 the stale arithmetic would have dropped
    assert c["queued_after"] == runner.queued_count()
    assert runner.store.queued_after_hint() == c["queued_after"]

    # drain: a fresh runner resumes from the hint and must crawl the
    # ingested rows to a terminal state, ending with hint == true count == 0
    resumed = CrawlRunner(spark, root, CFG)
    resumed.run(pages, robots)
    assert resumed.queued_count() == 0
    assert resumed.store.queued_after_hint() == 0
    injected = {u for u, _, _ in extra}
    st = {
        r["url"]: r["status"]
        for r in resumed.store.frontier_state().collect()
        if r["url"] in injected
    }
    assert set(st) == injected
    assert all(s != STATUS_QUEUED for s in st.values())


def test_round_commit_during_ingest_write_keeps_chain(spark, tmp_path, monkeypatch):
    """The round_no half of the race: ingest_urls reads last_committed_round
    BEFORE its tee write; if a run_round commit (last+1) lands during the
    write, ingest's commit must advance to the new round — committing behind
    the frontier would make resume_round() re-run an already-committed round.
    Interleaved deterministically by hooking the tee write."""
    from crawlspark import crawl as crawl_mod
    from crawlspark.crawl import ingest_urls, run_round
    from crawlspark.schema import SEEDS

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=3, per_list=4, seed=37))
    pages, seeds, robots = _dfs(spark, site)
    root = str(tmp_path / "race-b")
    runner = CrawlRunner(spark, root, CFG)
    runner.init(seeds)
    runner.run(pages, robots, stop_after_round=0)
    last = runner.store.last_committed_round()
    queued = runner.store.queued_after_hint()

    host = site["pages"][0]["url"].split("/")[2]
    new_url = f"https://{host}/race-b-page"

    orig_write_tee = crawl_mod._write_tee
    fired = []

    def interleaved(store, tee):
        res = orig_write_tee(store, tee)
        if not fired:
            fired.append(True)
            # run_round commits last+1 while the ingest sits between its
            # tee write and its manifest commit
            run_round(spark, store, pages, robots, CFG, last + 1,
                      queued_before=queued)
        return res

    monkeypatch.setattr(crawl_mod, "_write_tee", interleaved)
    out = ingest_urls(
        spark, runner.store,
        spark.createDataFrame([(new_url, 1, 10**9)], schema=SEEDS), CFG,
    )
    monkeypatch.setattr(crawl_mod, "_write_tee", orig_write_tee)
    assert out["ingested"] == 1
    assert fired  # interleave actually happened
    # the chain never moved backwards: the frontier is at last+1
    assert runner.store.last_committed_round() == last + 1
    # and the hint reflects both the round's arithmetic AND the ingest
    assert runner.store.queued_after_hint() == runner.queued_count()

    # resume is clean and drains, crawling the ingested URL's fp
    resumed = CrawlRunner(spark, root, CFG)
    assert resumed.resume_round() == last + 2
    resumed.run(pages, robots)
    assert resumed.queued_count() == 0
    assert resumed.store.queued_after_hint() == 0
    assert new_url in resumed.seen_urls()
