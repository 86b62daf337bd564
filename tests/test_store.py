"""SnapshotStore / FrontierStore contract tests — the pytest rewrite of
scrapy-redis's test_queue.py / test_scheduler.py persistence semantics,
asserted over snapshots instead of Redis keys (SURVEY §5.1-5.3)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from crawlspark.schema import FRONTIER, SEEN
from crawlspark.store import FrontierStore, SnapshotStore


def _frontier_row(fp, url, pri, seq, status="queued", op_seq=1, **kw):
    return {
        "fp": fp, "url": url, "host": "h.com", "host_bucket": 0,
        "priority": pri, "depth": 0, "seq": seq, "status": status,
        "retry_count": kw.get("retry_count", 0),
        "discovered_round": kw.get("discovered_round", 0), "op_seq": op_seq,
    }


def test_append_read_timetravel(spark, tmp_store_root):
    st = SnapshotStore(spark, tmp_store_root + "/t")
    df1 = spark.createDataFrame([_frontier_row("a", "u1", 1, 0)], schema=FRONTIER)
    s1 = st.append(df1, round_no=0)
    df2 = spark.createDataFrame([_frontier_row("b", "u2", 0, 1)], schema=FRONTIER)
    s2 = st.append(df2, round_no=1)
    assert st.read(s1).count() == 1
    assert st.read(s2).count() == 2          # snapshot chain accumulates
    assert st.read().count() == 2            # CURRENT == latest
    # lineage recorded per file
    m = st.manifest()
    assert [f["rows"] for f in m["files"]] == [1, 1]
    assert m["parent_id"] == s1


def test_rollback_to_round(spark, tmp_store_root):
    st = SnapshotStore(spark, tmp_store_root + "/t")
    for r in range(3):
        st.append(
            spark.createDataFrame([_frontier_row(f"f{r}", f"u{r}", 0, r)], schema=FRONTIER),
            round_no=r,
        )
    st.rollback_to_round(1)
    assert st.read().count() == 2
    # new commits after rollback get fresh snapshot ids (no collision)
    sid = st.append(
        spark.createDataFrame([_frontier_row("x", "ux", 0, 9)], schema=FRONTIER), round_no=2
    )
    assert sid == 4
    assert st.read().count() == 3


def test_frontier_merge_on_read_latest_wins(spark, tmp_store_root):
    fs = FrontierStore(spark, tmp_store_root)
    fs.merge_frontier(
        spark.createDataFrame(
            [_frontier_row("a", "u1", 1, 0, "queued", op_seq=1)], schema=FRONTIER
        ),
        round_no=-1,
    )
    fs.merge_frontier(
        spark.createDataFrame(
            [_frontier_row("a", "u1", 1, 0, "done", op_seq=2),
             _frontier_row("b", "u2", 0, 1, "queued", op_seq=5)],
            schema=FRONTIER,
        ),
        round_no=0,
    )
    state = {r["fp"]: r["status"] for r in fs.frontier_state().collect()}
    assert state == {"a": "done", "b": "queued"}


def test_seen_insert_if_absent_semantics(spark, tmp_store_root):
    """dupefilter contract: seeing the same fp twice must not grow the set
    (SADD returns 0 analog) — caller anti-joins, store dedups in-batch."""
    fs = FrontierStore(spark, tmp_store_root)
    rows = [
        {"fp": "x", "url": "u", "host_bucket": 0, "first_round": 0},
        {"fp": "x", "url": "u", "host_bucket": 0, "first_round": 0},
    ]
    fs.merge_seen(spark.createDataFrame(rows, schema=SEEN), round_no=0)
    assert fs.seen_state().count() == 1
    # second arrival dropped by the caller's anti-join
    seen = fs.seen_state()
    incoming = spark.createDataFrame(rows[:1], schema=SEEN)
    fresh = incoming.join(seen.select("fp"), "fp", "left_anti")
    assert fresh.count() == 0


def test_compaction_keeps_state(spark, tmp_store_root):
    fs = FrontierStore(spark, tmp_store_root)
    for i in range(FrontierStore.COMPACT_EVERY + 1):
        fs.merge_frontier(
            spark.createDataFrame(
                [_frontier_row(f"f{i}", f"u{i}", 0, i, op_seq=i + 1)], schema=FRONTIER
            ),
            round_no=i,
        )
    # compaction happened: file count collapsed but state intact
    assert fs.frontier.n_delta_files() <= 2
    assert fs.frontier_state().count() == FrontierStore.COMPACT_EVERY + 1


def test_results_upsert_last_writer_wins(spark, tmp_store_root):
    from crawlspark.schema import RESULTS

    fs = FrontierStore(spark, tmp_store_root)
    r1 = [{"rank": 1, "name": "a", "rate": 9.0, "num": 5, "genres": ["x"],
           "url": "u1", "crawl_round": 0}]
    r2 = [{"rank": 1, "name": "b", "rate": 9.5, "num": 6, "genres": ["y"],
           "url": "u1", "crawl_round": 1}]
    fs.upsert_results(spark.createDataFrame(r1, schema=RESULTS), 0)
    fs.upsert_results(spark.createDataFrame(r2, schema=RESULTS), 1)
    rows = fs.results_state().collect()
    assert len(rows) == 1 and rows[0]["name"] == "b"


def test_compaction_clusters_by_sort_cols(spark, tmp_store_root):
    """Z-order-lite: the compacted frontier base must be clustered by
    (host_bucket, priority, seq) within each file, so row-group min/max
    stats prune scans on those keys."""
    import glob

    import pyarrow.parquet as pq

    fs = FrontierStore(spark, tmp_store_root)
    rows = []
    for i in range(40):
        r = _frontier_row(f"f{i}", f"u{i}", i % 3, 1000 - i, op_seq=i + 1)
        r["host_bucket"] = i % 4
        rows.append(r)
    for i in range(FrontierStore.COMPACT_EVERY + 1):
        batch = rows[i * 3:(i + 1) * 3] or rows[:1]
        fs.merge_frontier(spark.createDataFrame(batch, schema=FRONTIER), round_no=i)
    assert fs.frontier.n_delta_files() <= 2
    m = fs.frontier.manifest()
    base = [f for f in m["files"] if not f.get("wide")][-1]
    files = glob.glob(f"{tmp_store_root}/frontier/{base['path']}/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["host_bucket", "priority", "seq"])
        keys = list(zip(
            t["host_bucket"].to_pylist(),
            t["priority"].to_pylist(),
            [s for s in t["seq"].to_pylist()],
        ))
        assert keys == sorted(keys), f"file {f} not clustered"


@pytest.mark.slow
def test_long_crawl_bounded_storage_and_flat_reads(spark, tmp_path):
    """VERDICT r2 #8 + ADVICE: a >=50-round crawl must keep (a) every
    table's delta-file count bounded (compaction), (b) the shared tee-dir
    and manifest counts bounded (vacuum GC), and (c) resume working after
    GC. Budget 1 URL/host/round forces one pop per round -> ~52 rounds."""
    import os

    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=1, lists_per_host=2, per_list=25, seed=31))
    pages = spark.createDataFrame(site["pages"], schema=PAGES)
    seeds = spark.createDataFrame(site["seeds"], schema=SEEDS)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)

    cfg = CrawlConfig(round_wall=1.0, per_host_cap=1,
                      max_depth=1, vacuum_every=10)
    root = str(tmp_path / "long")
    runner = CrawlRunner(spark, root, cfg)
    runner.init(seeds)
    res = runner.run(pages, robots)
    assert res.rounds >= 50, res.rounds

    store = runner.store
    for s in (store.frontier, store.seen, store.results, store.fetch_log,
              store.metrics):
        # compaction bound: COMPACT_EVERY deltas + the compacted base +
        # at most a round of slack before the next rewrite triggers
        assert s.n_delta_files() <= store.COMPACT_EVERY + 2, s.path
        # vacuum bound: manifests don't accumulate O(rounds)
        assert len(s.snapshots()) <= 25, (s.path, len(s.snapshots()))
    # tee dirs are GC'd: without vacuum there'd be one per round (>=50)
    n_shared = len(os.listdir(f"{root}/shared"))
    assert n_shared <= 30, n_shared

    # resume after GC: fresh handle sees the full final state
    resumed = CrawlRunner(spark, root, cfg)
    assert resumed.resume_round() == store.last_committed_round() + 1
    n_details = sum(1 for p in site["pages"] if "/item/" in p["url"])
    assert resumed.store.results_state().count() == n_details


def test_queued_after_hint_matches_state(spark, tmp_path):
    """Zero-job resume: the frontier manifest's queued_after hint must
    equal the actual resolved queued count at every commit point — after
    seed, after a drained run, after a mid-crawl ingest, and across a
    compaction rewrite."""
    from crawlspark.crawl import ingest_urls
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=2, per_list=5, seed=13))
    pages = spark.createDataFrame(site["pages"], schema=PAGES)
    seeds = spark.createDataFrame(site["seeds"], schema=SEEDS)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    cfg = CrawlConfig(round_wall=1e9, per_host_cap=100, max_depth=1)
    runner = CrawlRunner(spark, str(tmp_path / "h"), cfg)
    runner.init(seeds)
    assert runner.store.queued_after_hint() == runner.queued_count()

    runner.run(pages, robots)
    assert runner.store.queued_after_hint() == runner.queued_count() == 0

    out = ingest_urls(
        spark, runner.store,
        spark.createDataFrame(
            [("https://h000.example.com/hint-test", 1, 999)], schema=SEEDS),
        cfg,
    )
    assert out["ingested"] == 1
    assert runner.store.queued_after_hint() == runner.queued_count() == 1

    # the engine-path compaction (_maybe_compact) carries the hint forward
    # across the base rewrite (the ingest commit above left a hint-bearing
    # manifest as CURRENT)
    runner.store.COMPACT_EVERY = 1
    runner.store._maybe_compact(
        runner.store.frontier, runner.store.frontier_state,
        runner.store.last_committed_round(),
    )
    assert runner.store.frontier.manifest()["meta"].get("compaction")
    assert runner.store.queued_after_hint() == 1

    # a fresh handle resumes from the hint and crawls ONLY the new url
    resumed = CrawlRunner(spark, str(tmp_path / "h"), cfg)
    res = resumed.run(pages, robots)
    assert sum(c.get("popped", 0) for c in res.counts) <= cfg.max_retries
    assert resumed.store.queued_after_hint() == resumed.queued_count() == 0


def _one_round_crawl(spark, root):
    """A store with the seed commit and one committed emit_text round;
    compaction at 2 delta files, so the frontier holds a rewritten base."""
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=1, lists_per_host=1, per_list=4, seed=3))
    runner = CrawlRunner(spark, root, CrawlConfig(emit_text=True))
    runner.store.COMPACT_EVERY = 2
    runner.init(spark.createDataFrame(site["seeds"], schema=SEEDS))
    runner.run(spark.createDataFrame(site["pages"], schema=PAGES),
               spark.createDataFrame(site["robots"], schema=ROBOTS), max_rounds=1)
    return runner.store


def test_store_reads_launch_no_jobs(spark, tmp_path):
    """Manifest entries carry their files' schema, so building a table's
    DataFrame runs no schema-inference job — for tee files, a compacted
    base, the emit_text corpus staging files and pyarrow-written metrics
    alike — and the observed lineage row counts match the data."""
    st = _one_round_crawl(spark, str(tmp_path / "s"))
    sc = spark.sparkContext
    group = "test-store-reads-launch-no-jobs"
    sc.setJobGroup(group, "store reads")
    try:
        dfs = [st.frontier_state(), st.seen_state(), st.fetch_log_state(),
               st.corpus_state(), st.metrics_state()]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert all(df is not None for df in dfs)
    assert any(f.get("wide") is None for f in st.frontier.manifest()["files"])
    for table in (st.frontier, st.seen, st.fetch_log, st.corpus, st.metrics):
        files = table.manifest()["files"]
        assert all("schema" in f for f in files)
        assert table.read().count() == sum(f["rows"] for f in files)


def test_seed_dedup_one_row_per_fingerprint(spark, tmp_path):
    """Raw forms of one URL (host case, default port, query order,
    fragment) collapse to one frontier row and one seen row, and the
    lowest ``seq`` wins; the seed commit's queued count is the number of
    distinct fingerprints."""
    from crawlspark.crawl import seed_frontier
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import SEEDS

    forms = [("https://Dup.example.com/p?b=2&a=1", 5, 4),
             ("https://dup.example.com:443/p?a=1&b=2", 3, 2),
             ("https://DUP.EXAMPLE.COM/p?a=1&b=2#frag", 7, 6),
             ("https://dup.example.com/p?b=2&a=1#x", 9, 8)]
    others = [("https://a.example.com/x", 0, 1), ("https://b.example.com/y", 0, 3),
              ("https://a.example.com/z", 1, 5)]
    seeds = spark.createDataFrame(
        [{"url": u, "priority": p, "seq": s} for u, p, s in forms + others],
        schema=SEEDS)
    fs = FrontierStore(spark, str(tmp_path / "s"))
    seed_frontier(spark, fs, seeds, CrawlConfig())

    frontier = fs.frontier_log().collect()
    seen = fs.seen_state().collect()
    assert len(frontier) == len({r["fp"] for r in frontier}) == 4
    assert sorted(r["fp"] for r in seen) == sorted(r["fp"] for r in frontier)
    dup = [r for r in frontier if r["url"] == "https://dup.example.com/p?a=1&b=2"]
    assert [(r["seq"], r["priority"]) for r in dup] == [(2, 3)]
    assert fs.queued_after_hint() == 4
