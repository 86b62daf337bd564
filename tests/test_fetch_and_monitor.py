"""FetchBackend seam (N7) + monitor rendering (reference utils/monitor.py
analog): the engine must run unchanged through an explicitly-supplied
backend and render per-round progress from the metrics table."""

from __future__ import annotations

import pytest

from crawlspark.fetch import CorpusFetchBackend, FetchBackend
from crawlspark.monitor import progress_frame, render_progress
from crawlspark.runner import CrawlRunner
from crawlspark.scheduler import CrawlConfig
from crawlspark.schema import PAGES, ROBOTS, SEEDS
from crawlspark.synth import SiteSpec, generate_site


@pytest.fixture(scope="module")
def site(spark):
    data = generate_site(SiteSpec(n_hosts=2, lists_per_host=1, per_list=5, seed=7))
    return {
        "pages": spark.createDataFrame(data["pages"], schema=PAGES),
        "seeds": spark.createDataFrame(data["seeds"], schema=SEEDS),
        "robots": spark.createDataFrame(data["robots"], schema=ROBOTS),
    }


def test_bucketed_pages_join_avoids_corpus_shuffle(spark, site, tmp_path):
    """F1 at-scale layout: against a url-bucketed pages table, the
    non-broadcast fetch join must read the corpus bucket-in-place (no
    Exchange on the pages side — only the slice shuffles) and return the
    same rows as the unbucketed join."""
    from crawlspark.fetch import write_bucketed_pages

    write_bucketed_pages(site["pages"], "pages_bucketed_t", buckets=8,
                         path=str(tmp_path / "pages_bucketed"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # model the at-scale case: the slice is NOT broadcastable (a 10^7-row
    # round), so forbid auto-broadcast and look at the equi-join shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tbl = spark.table("pages_bucketed_t")
        urls = site["pages"].select("url").limit(7)
        joined = CorpusFetchBackend(tbl, broadcast_slice=False).fetch(urls)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # exactly one shuffle: the slice side; zero on the corpus side
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BroadcastHashJoin" not in plan
        got = {r["url"] for r in joined.collect()}
        want = {r["url"] for r in
                CorpusFetchBackend(site["pages"], broadcast_slice=False)
                .fetch(urls).collect()}
        assert got == want and len(got) == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_t")


def test_crawl_through_explicit_backend(spark, site, tmp_path):
    """Explicit CorpusFetchBackend == default fetch behavior, end to end."""
    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    runner = CrawlRunner(spark, str(tmp_path / "store"), cfg)
    runner.init(site["seeds"])
    res = runner.run(site["pages"], site["robots"],
                     backend=CorpusFetchBackend(site["pages"]))
    assert res.total_fetched > 0

    # monitor renders the finished run's metrics
    pf = progress_frame(runner.store)
    assert pf is not None and pf.count() == len(res.counts)
    text = render_progress(runner.store)
    assert "total" in text and "frontier now:" in text
    # totals line agrees with the runner's own counts
    total_fetched = sum(c.get("fetched", 0) for c in res.counts)
    assert f"{total_fetched:>9}" in text.splitlines()[-2]


def test_custom_backend_drives_misses(spark, site, tmp_path):
    """A backend that drops every page => all pops retry then exhaust —
    the retry path is exercised entirely through the seam."""

    class EmptyBackend(FetchBackend):
        def __init__(self, pages):
            self.pages = pages

        def fetch(self, urls):
            return self.pages.select("url", "html").limit(0)

    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1, max_retries=2)
    runner = CrawlRunner(spark, str(tmp_path / "store2"), cfg)
    runner.init(site["seeds"])
    res = runner.run(site["pages"], site["robots"], backend=EmptyBackend(site["pages"]))
    assert res.total_fetched == 0
    assert sum(c.get("exhausted", 0) for c in res.counts) > 0


@pytest.mark.slow
def test_duplicate_emitting_backend_counts_stay_sane(spark, site, tmp_path):
    """ADVICE r2 (medium): a backend that returns the same url TWICE (easy
    with HTTP retries) must not inflate fetched/items or drive 'missed'
    negative — run_round enforces url-uniqueness on the backend output."""

    class DoubleBackend(FetchBackend):
        def __init__(self, pages):
            self.pages = pages

        def fetch(self, urls):
            hit = self.pages.select("url", "html").join(urls, "url", "inner")
            return hit.unionByName(hit)  # every url twice

    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    ref = CrawlRunner(spark, str(tmp_path / "ref"), cfg)
    ref.init(site["seeds"])
    ref_res = ref.run(site["pages"], site["robots"])

    dup = CrawlRunner(spark, str(tmp_path / "dup"), cfg)
    dup.init(site["seeds"])
    dup_res = dup.run(site["pages"], site["robots"],
                      backend=DoubleBackend(site["pages"]))

    assert dup_res.counts == ref_res.counts  # identical per-round counts
    for c in dup_res.counts:
        assert c.get("missed", 0) >= 0
    assert dup.fetch_sequence() == ref.fetch_sequence()


def test_corpus_backend_broadcast_gate_plan_shapes(spark, site):
    """VERDICT r2 #1: the slice join broadcasts ONLY when the caller says the
    slice is small; otherwise it must stay a shuffle join (a broadcast HINT
    is honored regardless of size — at the 10^10-URL design point that's a
    driver OOM)."""
    from crawlspark import plans

    urls = site["pages"].select("url").limit(3)
    bc = CorpusFetchBackend(site["pages"], broadcast_slice=True).fetch(urls)
    assert plans.uses_broadcast_join(bc), plans.explain_str(bc)

    # with the auto-broadcast threshold off, the gated-off path must NOT
    # contain any broadcast join — the hint is gone, not merely demoted
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nb = CorpusFetchBackend(site["pages"], broadcast_slice=False).fetch(urls)
        assert not plans.uses_broadcast_join(nb), plans.explain_str(nb)
        assert "SortMergeJoin" in plans.explain_str(nb, "simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.slow
def test_big_slice_path_crawls_identically(spark, site, tmp_path, monkeypatch):
    """Forcing every round down the non-broadcast (sort-merge) path must
    produce byte-identical crawl results + order — the gate changes the
    physical plan only."""
    from crawlspark import crawl as crawl_mod

    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    ref = CrawlRunner(spark, str(tmp_path / "ref2"), cfg)
    ref.init(site["seeds"])
    ref.run(site["pages"], site["robots"])

    monkeypatch.setattr(crawl_mod, "BROADCAST_SLICE_MAX_ROWS", 0)
    nb = CrawlRunner(spark, str(tmp_path / "nb"), cfg)
    nb.init(site["seeds"])
    nb.run(site["pages"], site["robots"])

    assert nb.fetch_sequence() == ref.fetch_sequence()
    assert nb.seen_urls() == ref.seen_urls()


def test_cli_bucketed_table_roundtrip(spark, site, tmp_path, monkeypatch, capsys):
    """run_crawl.py CLI: --write-bucketed-table lays the corpus out
    url-bucketed, then --pages-table crawls against it end-to-end with the
    same results as the parquet-path crawl (the at-scale F1 deployment
    recipe, VERDICT r3 / NOTES_r4 follow-up)."""
    import json as _json
    import sys as _sys

    import run_crawl

    pages_path = str(tmp_path / "pages_pq")
    seeds_path = str(tmp_path / "seeds_pq")
    robots_path = str(tmp_path / "robots_pq")
    site["pages"].write.parquet(pages_path)
    site["seeds"].write.parquet(seeds_path)
    site["robots"].write.parquet(robots_path)

    def cli(*argv):
        monkeypatch.setattr(_sys, "argv", ["run_crawl.py", *argv])
        rc = run_crawl.main()
        assert rc == 0
        out = [ln for ln in capsys.readouterr().out.splitlines()
               if ln.startswith("{")][-1]
        return _json.loads(out)

    try:
        layout = cli("--pages", pages_path,
                     "--write-bucketed-table", "cli_pages_b",
                     "--buckets", "4", "--store", str(tmp_path / "unused"))
        assert layout["buckets"] == 4
        assert layout["rows"] == site["pages"].count()

        ref = cli("--pages", pages_path, "--seeds", seeds_path,
                  "--robots", robots_path, "--store", str(tmp_path / "s_ref"),
                  "--round-wall", "1e9", "--per-host-cap", "100000")
        got = cli("--pages-table", "cli_pages_b", "--seeds", seeds_path,
                  "--robots", robots_path, "--store", str(tmp_path / "s_tbl"),
                  "--round-wall", "1e9", "--per-host-cap", "100000")
        assert got["fetched"] == ref["fetched"] > 0
        assert got["per_round"] == ref["per_round"]
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_pages_b")


def test_point_lookup_pushes_in_filter_and_matches_join(spark, site, tmp_path):
    """Tiny-slice fast path: the point lookup must push the url list into
    the parquet scan (PushedFilters In on url — row-group skipping against
    the sorted/bloomed bucketed layout) and return exactly the join path's
    rows. At 10^10 pages a seed round must NOT scan the corpus."""
    from crawlspark.fetch import write_bucketed_pages

    pages_path = str(tmp_path / "pages_pq")
    site["pages"].write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    urls = site["pages"].select("url").limit(5)

    pl = CorpusFetchBackend(pages, point_lookup=True).fetch(urls)
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(url" in plan
    assert "Join" not in plan  # a filter-scan, not a corpus join
    want = {r["url"] for r in CorpusFetchBackend(pages).fetch(urls).collect()}
    assert {r["url"] for r in pl.collect()} == want and len(want) == 5

    # empty slice: no rows, no error
    assert CorpusFetchBackend(pages, point_lookup=True).fetch(
        urls.limit(0)).count() == 0

    # and against the bucketed/sorted layout (the production index)
    write_bucketed_pages(site["pages"], "pages_pl_t", buckets=4,
                         path=str(tmp_path / "pages_b"))
    try:
        tbl = spark.table("pages_pl_t")
        got = {r["url"] for r in
               CorpusFetchBackend(tbl, point_lookup=True).fetch(urls).collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_pl_t")


def test_point_lookup_rounds_crawl_identically(spark, site, tmp_path):
    """Forcing every round down the point-lookup path must produce the
    identical crawl — order, seen set, per-round counts — as forcing every
    round down the broadcast join path."""
    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    pl = CrawlRunner(spark, str(tmp_path / "pl"), cfg)
    pl.init(site["seeds"])
    pl_res = pl.run(site["pages"], site["robots"],
                    backend=CorpusFetchBackend(site["pages"], point_lookup=True))

    jn = CrawlRunner(spark, str(tmp_path / "jn"), cfg)
    jn.init(site["seeds"])
    jn_res = jn.run(site["pages"], site["robots"],
                    backend=CorpusFetchBackend(site["pages"]))

    assert pl_res.counts == jn_res.counts
    assert pl.fetch_sequence() == jn.fetch_sequence()
    assert pl.seen_urls() == jn.seen_urls()


def test_duplicate_corpus_with_uniqueness_disabled_dedups(spark, site, tmp_path):
    """A multi-snapshot corpus (same url twice, e.g. two crawls unioned)
    fetched through a CorpusFetchBackend with pages_unique_by_url=False
    must crawl with the same counts and order as the clean corpus — the
    engine's enforcement dedup eats the duplicates. The declared-unique
    default skips that shuffle, which is only sound when the corpus really
    is url-keyed."""
    dup_pages = site["pages"].unionByName(site["pages"])

    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    dd = CrawlRunner(spark, str(tmp_path / "dd"), cfg)
    dd.init(site["seeds"])
    # point lookup: the path the default backend takes for rounds this small
    dd_res = dd.run(dup_pages, site["robots"],
                    backend=CorpusFetchBackend(dup_pages, point_lookup=True,
                                               pages_unique_by_url=False))

    ref = CrawlRunner(spark, str(tmp_path / "refu"), cfg)
    ref.init(site["seeds"])
    ref_res = ref.run(site["pages"], site["robots"])

    assert dd_res.counts == ref_res.counts
    assert dd.fetch_sequence() == ref.fetch_sequence()
    assert dd.seen_urls() == ref.seen_urls()
