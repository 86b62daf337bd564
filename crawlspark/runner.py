"""Driver loop: scheduler rounds until the frontier drains; kill-resume.

Replaces the reference's orchestration (scripts/start_all.py spawning
dispatcher/monitor/3 crawler processes, SURVEY §3.1) and its spider-close
state machine (/root/reference/Douban2/pipelines.py:209-258): the stop
condition is "no queued rows for ``idle_rounds`` consecutive rounds, or
``max_rounds``/``max_items`` caps hit" — the S9 semantics.

Resume contract (north_rule): every round ends with the frontier snapshot
commit; reopening a killed run rolls sibling tables back to the last fully
committed round and continues — final state is identical to an
uninterrupted run (tested in tests/test_resume.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import scheduler
from .crawl import run_round, seed_frontier
from .scheduler import CrawlConfig
from .schema import STATUS_QUEUED
from .store import FrontierStore


@dataclass
class RunResult:
    rounds: int
    counts: list[dict] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(c.get("fetched", 0) for c in self.counts)


class CrawlRunner:
    def __init__(self, spark: SparkSession, root: str, cfg: CrawlConfig | None = None):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.store = FrontierStore(spark, root)

    def init(self, seeds: DataFrame) -> None:
        seed_frontier(self.spark, self.store, seeds, self.cfg)

    def resume_round(self) -> int:
        """Next round to run, derived from the frontier commit chain; rolls
        sibling tables back if a kill left them ahead."""
        last = self.store.last_committed_round()
        if last is None:
            raise RuntimeError("store not seeded — call init() first")
        for s in (self.store.seen, self.store.results, self.store.metrics,
                  self.store.fetch_log, self.store.corpus):
            s.rollback_to_round(last)
        return last + 1

    def run(
        self,
        pages: DataFrame,
        robots: DataFrame,
        max_rounds: int = 1000,
        max_items: int | None = None,
        stop_after_round: int | None = None,
        backend=None,
    ) -> RunResult:
        """Run rounds until drained. ``stop_after_round`` simulates a kill
        for resume tests. ``backend`` (fetch.FetchBackend) overrides the
        default corpus-join fetch (N7 seam)."""
        start = self.resume_round()
        counts: list[dict] = []
        r = start
        budget_scale = 1.0
        items_emitted = 0
        # remaining-queued is the frontier's running queued count, which
        # every frontier commit keeps (the frontier commit protocol,
        # FrontierStore): the drain is detected without a count job or a
        # no-op round, and it counts ingests that commit while the crawl
        # runs. The state-resolve count job runs only on pre-hint stores
        hint = self.store.queued_after_hint()
        queued = hint if hint is not None else self.queued_count()
        robots_count = None
        if max_rounds > 0 and queued > 0:
            # robots is static input for the whole run: collect it ONCE,
            # up to one row past the broadcast gate. When it fits, every
            # round joins a local relation with a known size (hinted
            # broadcast, no rescan of the caller's frame); above the gate
            # the rounds keep the caller's frame, un-hinted.
            table = robots.limit(scheduler.BROADCAST_ROBOTS_MAX_HOSTS + 1).toArrow()
            if table.num_rows <= scheduler.BROADCAST_ROBOTS_MAX_HOSTS:
                robots = self.spark.createDataFrame(table)
                robots_count = table.num_rows
        while r < start + max_rounds and queued > 0:
            c = run_round(self.spark, self.store, pages, robots, self.cfg, r,
                          budget_scale=budget_scale, backend=backend,
                          queued_before=queued, robots_count=robots_count)
            counts.append(c)
            # AUTOTHROTTLE feedback (N3): adjust next round's budgets from
            # this round's observed failure ratio
            budget_scale = self.cfg.next_budget_scale(
                budget_scale, c.get("popped", 0), c.get("missed", 0)
            )
            if c.get("popped", 0) == 0:
                break
            queued = self.store.queued_after_hint()
            # max_items: maintained from per-round item deltas (already
            # known from the round's own aggregate) — no extra
            # results_state() resolve+count job per round. Emitted items
            # upper-bound distinct results, matching the reference's
            # "close when N items collected" counter semantics
            # (Douban2/pipelines.py item counter, incremented per emit).
            items_emitted += c.get("items", 0)
            if max_items is not None and items_emitted >= max_items:
                break
            if stop_after_round is not None and r >= stop_after_round:
                break
            # storage GC (S9 housekeeping): expire old snapshots + delete
            # unreferenced tee dirs so long crawls stay O(state) on disk
            if self.cfg.vacuum_every and (r + 1) % self.cfg.vacuum_every == 0:
                self.store.vacuum()
            r += 1
        # executed-rounds count derives from the counts list, not the loop
        # variable (the max_rounds exit path leaves r one past the last
        # executed round)
        return RunResult(rounds=len(counts), counts=counts)

    # -- observables ---------------------------------------------------------

    def queued_count(self) -> int:
        st = self.store.frontier_state()
        if st is None:
            return 0
        return st.filter(F.col("status") == STATUS_QUEUED).count()

    def seen_urls(self) -> set[str]:
        s = self.store.seen_state()
        return set() if s is None else {r["url"] for r in s.select("url").collect()}

    def fetch_sequence(self) -> list[tuple]:
        """Deterministic fetch order: (round, host, url) sorted by the
        engine's own contract — for parity vs the simulator."""
        log = self.store.fetch_log_state()
        if log is None:
            return []
        rows = log.orderBy("round", F.desc("priority"), "seq", "url").collect()
        return [(r["round"], r["host"], r["url"]) for r in rows]
