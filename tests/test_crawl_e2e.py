"""End-to-end golden crawl: Spark engine vs pure-Python simulator.

SURVEY §5.4: (a) final results table equals the expected golden set,
(b) crawl order matches the reference-semantics simulator exactly,
(c) final URL-seen set matches exactly, (d) robots/retry statuses land,
(e) politeness budgets hold, (f) queue pop ordering (priority DESC, FIFO
within class) — the scrapy-redis test_queue/test_scheduler rewrite.

The engine runs ONCE per module (expensive); every test asserts against
that shared run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from crawlspark.runner import CrawlRunner
from crawlspark.scheduler import CrawlConfig
from crawlspark.schema import PAGES, ROBOTS, SEEDS
from crawlspark.simulator import simulate
from crawlspark.synth import SiteSpec, generate_site

CFG = CrawlConfig(round_wall=20.0, max_depth=1)


@pytest.fixture(scope="module")
def golden_site():
    # reference shape scaled down: 2 hosts (one slow, one robots-restricted),
    # list pages -> detail pages, canonicalization traps, dead links
    return generate_site(SiteSpec(n_hosts=2, lists_per_host=5, per_list=10, seed=7))


@pytest.fixture(scope="module")
def engine_run(spark, golden_site, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl") / "store")
    pages = spark.createDataFrame(golden_site["pages"], schema=PAGES)
    seeds = spark.createDataFrame(golden_site["seeds"], schema=SEEDS)
    robots = spark.createDataFrame(golden_site["robots"], schema=ROBOTS)
    runner = CrawlRunner(spark, root, CFG)
    runner.init(seeds)
    res = runner.run(pages, robots)
    return runner, res


@pytest.fixture(scope="module")
def sim_run(golden_site):
    return simulate(
        {p["url"]: p["html"] for p in golden_site["pages"]},
        golden_site["seeds"],
        golden_site["robots"],
        CFG,
    )


def test_seen_set_parity(engine_run, sim_run):
    runner, _ = engine_run
    assert runner.seen_urls() == sim_run.seen_urls


def test_crawl_order_parity(engine_run, sim_run):
    runner, _ = engine_run
    assert runner.fetch_sequence() == sim_run.fetch_sequence


def test_results_parity_and_golden(engine_run, sim_run, golden_site):
    runner, _ = engine_run
    got = {
        r["rank"]: (r["name"], r["rate"], r["num"], r["url"])
        for r in runner.store.results_state().collect()
    }
    want = {
        k: (v["name"], v["rate"], v["num"], v["url"]) for k, v in sim_run.results.items()
    }
    assert got == want
    expected_urls = {e["url"] for e in golden_site["expected_details"]}
    assert {u for (_, _, _, u) in got.values()} <= expected_urls
    # no url crawled twice (the reference's movies_duplicates invariant)
    log = engine_run[0].store.fetch_log_state()
    assert log.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_robots_denied_and_dead_links(engine_run):
    runner, _ = engine_run
    state = runner.store.frontier_state().collect()
    statuses = {r["url"]: r["status"] for r in state}
    denied = [u for u, s in statuses.items() if s == "robots_denied"]
    exhausted = [u for u, s in statuses.items() if s == "exhausted"]
    assert denied and all("/private/" in u for u in denied)
    assert exhausted and all("/dead/" in u for u in exhausted)
    retried = {r["url"]: r["retry_count"] for r in state if r["status"] == "exhausted"}
    assert all(rc == CFG.max_retries for rc in retried.values())
    fetched = {r["url"] for r in runner.store.fetch_log_state().collect()}
    assert not any("/private/" in u for u in fetched)


def test_priority_classes_pop_in_order(engine_run):
    """Within one host and round: priorities non-increasing; FIFO by seq
    within a priority class (north_rule tiebreak)."""
    runner, _ = engine_run
    log = runner.store.fetch_log_state().orderBy("round", F.desc("priority"), "seq").collect()
    by_rh: dict[tuple, list] = {}
    for r in log:
        by_rh.setdefault((r["round"], r["host"]), []).append((r["priority"], r["seq"]))
    checked = 0
    for (rnd, host), rows in by_rh.items():
        pris = [p for p, _ in rows]
        assert pris == sorted(pris, reverse=True), f"round {rnd} {host} priority order"
        for p in set(pris):
            seqs = [s for pp, s in rows if pp == p]
            assert seqs == sorted(seqs), f"round {rnd} {host} FIFO within priority {p}"
            checked += 1
    assert checked > 5  # the site actually exercised multiple classes/rounds


def test_politeness_budget_respected(engine_run, golden_site):
    runner, _ = engine_run
    robots = {r["host"]: r for r in golden_site["robots"]}
    for r in runner.store.fetch_log_state().groupBy("round", "host").count().collect():
        budget = CFG.host_budget(robots[r["host"]]["crawl_delay"] if r["host"] in robots else None)
        assert r["count"] <= budget, f"host {r['host']} exceeded budget in round {r['round']}"


def test_metrics_and_lineage_recorded(engine_run):
    runner, _ = engine_run
    m = runner.store.metrics_state()
    kinds = {r["metric"] for r in m.collect()}
    assert {"popped", "fetched", "new_links", "items"} <= kinds
    # per-partition lineage in every manifest (north_rule checkpoint contract)
    for man in runner.store.frontier.snapshots():
        assert all("rows" in f for f in man["files"])


def test_autothrottle_backoff(spark, tmp_path):
    """N3 feedback: a site full of dead links shrinks budgets the next
    round; a clean site keeps scale at 1.0 (static parity preserved)."""
    from crawlspark.scheduler import CrawlConfig

    cfg = CrawlConfig(autothrottle=True)
    assert cfg.next_budget_scale(1.0, popped=10, missed=5) == 0.5
    assert cfg.next_budget_scale(0.5, popped=10, missed=0) == 0.75
    assert cfg.next_budget_scale(1.0, popped=10, missed=0) == 1.0
    assert cfg.next_budget_scale(1.0, popped=10, missed=1) == 1.0  # within threshold
    off = CrawlConfig(autothrottle=False)
    assert off.next_budget_scale(1.0, popped=10, missed=9) == 1.0


def test_robots_broadcast_gate_plan_shapes(spark, golden_site):
    """N4 at-scale gate (judge r4 #2): the robots join is broadcast-HINTED
    only when the measured host count fits BROADCAST_ROBOTS_MAX_HOSTS;
    above the gate (a 10^7-host web-scale robots table) the plan must fall
    back to a non-broadcast equi-join — a hint would be honored regardless
    of size and OOM the driver. Verdicts must be identical on both paths."""
    from crawlspark.schema import STATUS_QUEUED
    from crawlspark.scheduler import BROADCAST_ROBOTS_MAX_HOSTS, with_robots

    robots = spark.createDataFrame(golden_site["robots"], schema=ROBOTS)
    n_hosts = robots.count()
    queued = (
        spark.createDataFrame(golden_site["seeds"], schema=SEEDS)
        .select(
            F.col("url"),
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.lit(STATUS_QUEUED).alias("status"),
        )
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # forbid AUTO broadcast so the plan shape shows the HINT decision alone
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # a count above the gate stands in for a web-scale robots table
        big_count = BROADCAST_ROBOTS_MAX_HOSTS + 1
        plan = lambda n: with_robots(  # noqa: E731
            queued, robots, CFG, robots_count=n
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan(n_hosts)
        assert "BroadcastHashJoin" not in plan(big_count)  # SMJ / shuffled hash
        assert "BroadcastHashJoin" not in plan(None)  # no count -> no hint
        rows = lambda n: sorted(  # noqa: E731
            (r["url"], bool(r["_denied"]))
            for r in with_robots(queued, robots, CFG, robots_count=n).collect()
        )
        assert rows(n_hosts) == rows(big_count) == rows(None)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_nonpositive_crawl_delay_gets_default_budget(spark):
    """``Crawl-delay: 0`` (robots.parse_robots_txt returns 0.0) and a
    negative delay must admit the default-delay budget, exactly as
    CrawlConfig.host_budget computes it — not divide round_wall by zero
    (DIVIDE_BY_ZERO under ANSI mode) or floor a negative quotient to 1."""
    from crawlspark.schema import STATUS_QUEUED
    from crawlspark.scheduler import with_robots

    delays = {"zero.example.com": 0.0, "neg.example.com": -2.0,
              "slow.example.com": 3.0, "absent.example.com": None}
    robots = spark.createDataFrame(
        [(h, [], d) for h, d in delays.items()], schema=ROBOTS
    )
    queued = spark.createDataFrame(
        [(f"https://{h}/a", h, STATUS_QUEUED) for h in delays],
        "url string, host string, status string",
    )
    got = {r["host"]: r["_budget"]
           for r in with_robots(queued, robots, CFG, robots_count=4).collect()}
    assert got == {h: CFG.host_budget(d) for h, d in delays.items()}
    assert got["zero.example.com"] == got["neg.example.com"] == 20


def _two_round_crawl(spark, golden_site, root, robots, monkeypatch):
    """Crawl the golden site for two rounds; returns the runner and the
    (robots frame, robots_count) each round was handed."""
    import crawlspark.runner as runner_mod

    handed = []
    run_round = runner_mod.run_round

    def spy(*args, **kwargs):
        handed.append((args[3], kwargs["robots_count"]))
        return run_round(*args, **kwargs)

    monkeypatch.setattr(runner_mod, "run_round", spy)
    runner = CrawlRunner(spark, root, CFG)
    runner.init(spark.createDataFrame(golden_site["seeds"], schema=SEEDS))
    runner.run(spark.createDataFrame(golden_site["pages"], schema=PAGES), robots,
               max_rounds=2)
    return runner, handed


def test_robots_above_local_relation_gate(spark, golden_site, tmp_path, monkeypatch):
    """A robots input above BROADCAST_ROBOTS_MAX_HOSTS is not collected:
    the rounds get the caller's frame, un-hinted, and crawl exactly as the
    simulator does."""
    from crawlspark import scheduler

    assert golden_site["robots"]
    monkeypatch.setattr(scheduler, "BROADCAST_ROBOTS_MAX_HOSTS",
                        len(golden_site["robots"]) - 1)
    robots = spark.createDataFrame(golden_site["robots"], schema=ROBOTS)
    runner, handed = _two_round_crawl(spark, golden_site, str(tmp_path / "s"),
                                      robots, monkeypatch)
    assert len(handed) == 2
    assert all(frame is robots and n is None for frame, n in handed)
    sim = simulate({p["url"]: p["html"] for p in golden_site["pages"]},
                   golden_site["seeds"], golden_site["robots"], CFG, max_rounds=2)
    assert runner.fetch_sequence() == sim.fetch_sequence
    assert runner.seen_urls() == sim.seen_urls


def test_empty_robots_default_allows(spark, golden_site, tmp_path, monkeypatch):
    """An empty robots input becomes an empty local relation: every host
    default-allows, as in the simulator with no robots rows."""
    from crawlspark.schema import STATUS_ROBOTS_DENIED

    robots = spark.createDataFrame([], schema=ROBOTS)
    runner, handed = _two_round_crawl(spark, golden_site, str(tmp_path / "s"),
                                      robots, monkeypatch)
    assert [n for _, n in handed] == [0, 0]
    sim = simulate({p["url"]: p["html"] for p in golden_site["pages"]},
                   golden_site["seeds"], [], CFG, max_rounds=2)
    assert runner.fetch_sequence() == sim.fetch_sequence
    assert runner.seen_urls() == sim.seen_urls
    assert runner.store.frontier_state().filter(
        F.col("status") == STATUS_ROBOTS_DENIED).count() == 0
