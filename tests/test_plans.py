"""Plan-quality assertions: pushdown, pruning, broadcast, codegen, shuffle
counts — the properties that keep the engine fast at 100 TB. A change that
silently de-optimizes a plan fails here, not in production."""

from __future__ import annotations

import os

import pytest

from crawlspark import plans
from crawlspark.entry_queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q02_filter_project"](spark, SF_DIR)
    assert plans.has_pushed_filters(df), plans.explain_str(df)


def test_column_pruning(spark):
    df = QUERIES["q02_filter_project"](spark, SF_DIR)
    cols = plans.scan_read_schema(df)
    # 4-column projection must not read the other 7 lineitem columns
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity", "l_discount"}


def test_dim_join_broadcasts(spark):
    df = QUERIES["j01_fetch_join"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df), plans.explain_str(df)


def test_q01_stays_jvm_side(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF_DIR)
    assert not plans.has_python_udf(df)
    assert plans.whole_stage_codegen_spans(df) >= 1


def test_textops_no_python_udf(spark):
    # the entire text-analysis plane is builtin expressions
    df = QUERIES["t01_text_profile"](spark, SF_DIR)
    assert not plans.has_python_udf(df)


def test_q01_single_shuffle(spark):
    # one aggregation = one exchange (partial agg map-side, final after)
    df = QUERIES["q01_pricing_summary"](spark, SF_DIR)
    assert plans.shuffle_count(df) <= 1, plans.explain_str(df, "simple")


def test_pop_window_single_shuffle(spark):
    df = QUERIES["c01_priority_pop"](spark, SF_DIR)
    assert plans.shuffle_count(df) <= 1, plans.explain_str(df, "simple")


def test_anti_join_no_python(spark):
    df = QUERIES["j02_anti_join"](spark, SF_DIR)
    assert not plans.has_python_udf(df)


def test_global_cap_pop_avoids_single_partition_window(spark):
    """With max_urls_per_round set, the global top-k must plan as
    TakeOrdered (per-partition top-k + k-row merge), never a
    row_number() window over Exchange SinglePartition (round-1 weakness:
    every admitted row funneled through one task)."""
    from crawlspark.schema import FRONTIER, ROBOTS
    from crawlspark.scheduler import CrawlConfig, pop_slice

    fr = spark.createDataFrame(
        [(f"f{i}", f"http://h{i % 3}.com/item/{i}", f"h{i % 3}.com", i % 3,
          1, 0, i, "queued", 0, 0, 1) for i in range(50)],
        schema=FRONTIER,
    )
    rob = spark.createDataFrame([], schema=ROBOTS)
    sliced, _ = pop_slice(fr, rob, CrawlConfig(max_urls_per_round=5), 1.0)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert sliced.count() == 5


def test_no_row_at_a_time_python_in_any_gate_query(spark):
    """VERDICT r2 #5: no BatchEvalPython (row-at-a-time Python UDF) may
    appear in ANY gate query's plan — Python is allowed only as
    Arrow-batched kernels (ArrowEvalPython / mapInPandas)."""
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        es = plans.explain_str(df)
        assert "BatchEvalPython" not in es, f"{name} uses row-at-a-time Python"


def test_fetch_join_sort_merges_when_gate_is_off(spark):
    """The crawl round's F1 join must not carry a broadcast hint when the
    popped slice exceeds the gate (see crawl.BROADCAST_SLICE_MAX_ROWS);
    with auto-broadcast off the plan must contain no broadcast join."""
    from crawlspark.fetch import CorpusFetchBackend
    from crawlspark.schema import PAGES
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=1, lists_per_host=1, per_list=4, seed=2))
    pages = spark.createDataFrame(site["pages"], schema=PAGES)
    urls = pages.select("url").limit(2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nb = CorpusFetchBackend(pages, broadcast_slice=False).fetch(urls)
        assert not plans.uses_broadcast_join(nb), plans.explain_str(nb)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_shard_plan_two_phase_prefix_sum(spark):
    # the whole point of shard_plan: the corpus-sized window is
    # PARTITIONED (by value bucket); the only single-partition step is
    # the window over the tiny bucket-totals relation.
    df = QUERIES["t54_shard_plan"](spark, SF_DIR)
    s = plans.explain_str(df)
    assert s.count("SinglePartition") <= 1, s
    assert not plans.has_python_udf(df)


def test_default_driver_heap_fits_host(spark):
    """The default driver heap is at most half the host's memory and
    never above 48g; the test session runs with it unless overridden."""
    from crawlspark.session import default_driver_memory

    mb = int(default_driver_memory().removesuffix("m"))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 1 <= mb <= min(48 * 1024, phys_mb // 2)
    if "CRAWLSPARK_DRIVER_MEM" not in os.environ:
        assert spark.conf.get("spark.driver.memory") == f"{mb}m"
