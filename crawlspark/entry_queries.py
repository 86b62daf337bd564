"""Driver-contract queries: every operator family from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable plus an exact DuckDB oracle SQL.

Contract rules honored throughout (driver compares row count + schema +
order-insensitive value hash at sf0.01):
* every computed column aliased IDENTICALLY in Spark and SQL;
* float aggregates rounded (2-6 dp) on BOTH sides so summation order can
  never flip the hash;
* deterministic tiebreaks on every top-k.

Operator-ID cross references (SURVEY §2): rXX = relational plane §2.7,
qX/dX/pX/fX = crawl plane §2.1-2.6 analogs expressed over the driver's
TPC-H-ish tables, plus the training-data ops (dedup/similarity/text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cdx as cx
from . import dedup as dd
from . import graph as gr
from . import robots as rb
from . import scheduler as sched
from . import similarity as sim
from . import textops as tx
from . import urlfilter as uf


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational plane (§2.7)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """R12/R13/R16: TPC-H-Q1-shaped multi-aggregate — the flagship."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2002-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q02_filter_project(spark, sf_dir):
    """R1/R2: projection + comparison filter (pushed to the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.05)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


def q03_like_search(spark, sf_dir):
    """R3: LIKE/contains keyword search (query_movies.py:44-54 analog)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("spark") | F.col("text").contains("shuffle")).select(
        "doc_id", "lang", "source"
    )


def q04_year_range(spark, sf_dir):
    """R4/R22: BETWEEN on a derived year."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.year("o_orderdate").between(1997, 1998)).select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year")
    )


def q05_null_empty_audit(spark, sf_dir):
    """R5/R30: IS NULL / empty-string data-quality audit."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("total_docs"),
        F.sum(F.when(F.col("source").isNull() | (F.col("source") == ""), 1).otherwise(0)).alias("missing_source"),
        F.sum(F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)).alias("missing_text"),
        F.sum(F.when(F.col("n_chars") <= 0, 1).otherwise(0)).alias("empty_docs"),
    )


def q07_topk(spark, sf_dir):
    """R7/R8: multi-key sort + LIMIT (TakeOrdered physical op)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def q09_group_count(spark, sf_dir):
    """R9/R13: group-by-column aggregate."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q10_group_by_expr(spark, sf_dir):
    """R10: GROUP BY derived expression (year)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q11_case_buckets(spark, sf_dir):
    """R11/R23: CASE-bucket grouping (duration/rating-bucket analog)."""
    e = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "small")
        .when(F.col("value") < 100, "medium")
        .otherwise("large")
    )
    return e.groupBy(bucket.alias("value_bucket")).agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def q14_count_distinct(spark, sf_dir):
    """R14: exact COUNT(DISTINCT)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
    )


def q14b_approx_distinct(spark, sf_dir):
    """R14 scale path: approx_count_distinct (HLL) — the 10^10-scale
    replacement for exact distinct; sketch internals differ per engine so
    this entry takes the rows-only check (no SQL oracle). The ACCURACY
    contract is gated separately (q14c)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
    )


def q14c_approx_distinct_contract(spark, sf_dir):
    """HLL accuracy contract, made hash-checkable: per group, assert
    |approx - exact| <= max(3 * rsd * exact, 1) INSIDE the query and emit
    the boolean — the oracle states the contract (every group true), so
    the driver's value-hash verifies the sketch's accuracy rather than
    its engine-specific internals."""
    e = _t(spark, sf_dir, "events")
    rsd = 0.02
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("ap"),
        F.countDistinct("user_id").alias("ex"),
    )
    tol = F.greatest(F.lit(3 * rsd) * F.col("ex"), F.lit(1.0))
    return agg.select(
        "event_type",
        (F.abs(F.col("ap") - F.col("ex")) <= tol).alias("within_tol"),
    )


def q15_conditional_agg(spark, sf_dir):
    """R15: SUM(CASE WHEN ...)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias("n_big"),
        F.count("*").alias("n_total"),
    )


def q17_having(spark, sf_dir):
    """R17: HAVING over grouped counts."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .filter(F.col("n_customers") >= 10)
    )


def q18_group_concat(spark, sf_dir):
    """R18: GROUP_CONCAT(DISTINCT) with pinned (sorted) order."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("n_name"))).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


def q19_string_ops(spark, sf_dir):
    """R19/R20/R21: SUBSTR + REPLACE + INSTR-style splitting."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring("source", 1, 3).alias("src_prefix"),
        F.regexp_replace("source", "src", "origin_").alias("src_renamed"),
        F.substring_index("text", " ", 1).alias("first_token"),
    )


def q24_union_dedup(spark, sf_dir):
    """R24/R25: UNION ALL + dropDuplicates (pipelines.py:361-362 analog)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return a.unionByName(b).dropDuplicates(["o_orderkey"])


def q29_key_lookup(spark, sf_dir):
    """R29: point lookup by key."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select("c_custkey", "c_name", "c_mktsegment")


def q27_json_extract(spark, sf_dir):
    """R27-adjacent: JSON field extraction from the events props column."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("long").alias("k_value"))
        .groupBy("k_value")
        .agg(F.count("*").alias("n"))
    )


def q28_pivot_histogram(spark, sf_dir):
    """R28: histogram/pivot report as conditional aggregation."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") < 50, 1).otherwise(0)).alias("lo"),
        F.sum(F.when((F.col("value") >= 50) & (F.col("value") < 200), 1).otherwise(0)).alias("mid"),
        F.sum(F.when(F.col("value") >= 200, 1).otherwise(0)).alias("hi"),
    )


# ---------------------------------------------------------------------------
# join plane (F1 fetch join, D1 anti-join, N4 broadcast join analogs)
# ---------------------------------------------------------------------------

def j01_fetch_join(spark, sf_dir):
    """F1 analog: small-slice inner equi-join into a big table, broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def j02_anti_join(spark, sf_dir):
    """D1 analog: seen-set anti-join — parts never shipped in bulk
    (quantity > 45). The probe side is filtered so the gate is
    DISCRIMINATING at sf0.01 (every part has *some* lineitem, so the
    unfiltered anti-join would verify empty-vs-empty — the weakest
    possible oracle evidence; with the quantity filter the result is
    non-empty at every driver SF: 7 / 114 / 977 rows at sf0.001/0.01/0.1)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    bulk = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    return p.join(bulk, p["p_partkey"] == F.col("l_partkey"), "left_anti").select(
        "p_partkey", "p_name"
    )


def j03_semi_join(spark, sf_dir):
    """EXISTS/left-semi: customers that have at least one urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return c.join(urgent, c["c_custkey"] == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# crawl-plane operator analogs over driver tables (machine-checkable shapes)
# ---------------------------------------------------------------------------

def c01_priority_pop(spark, sf_dir):
    """Q2 pop window: top-3 per user by value DESC, event_id ASC — the
    exact window shape of the frontier pop (priority DESC, seq ASC)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    # explicit repartition on the window key — the events table is a
    # single-row-group parquet, so the window's partial sort otherwise runs
    # as ONE task before the exchange; pre-partitioning moves the sort
    # behind a 32-way shuffle the window reuses (no second exchange).
    # Measured sf1.0 hot: 1.16 s -> 0.54 s; rows identical (the ranking
    # order (value DESC, event_id ASC) is a total order per user).
    return (
        e.repartition("user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


def c02_host_bucket(spark, sf_dir):
    """P1 consistent-hash placement shape: pmod bucketing + per-bucket load."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.pmod(F.col("user_id"), F.lit(16)).alias("bucket"))
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


def c03_dedup_latest(spark, sf_dir):
    """D4/S1 upsert view: latest event per user (last-writer-wins by ts,
    tiebreak event_id) — the results_state/frontier_state window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    # same single-task-scan fix as c01 — pre-partition on the window
    # key so the sort runs behind the shuffle instead of on the lone scan
    # task; the window reuses the exchange.
    return (
        e.repartition("user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def c04_retry_budget(spark, sf_dir):
    """N1-N3 politeness-budget math as data: per-user admission with
    budget = least(cap, floor(window/delay))-shaped arithmetic."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.least(F.col("n_events"), F.lit(30)).alias("admitted"),
            F.greatest(F.col("n_events") - 30, F.lit(0)).alias("deferred"),
        )
    )


def c05_host_quota(spark, sf_dir):
    """P5 static-quota admission math as data (CrawlConfig.host_quota):
    per-host lifetime cap — the remaining budget is quota minus the
    host's lifetime DONE count, admission takes min(pending, remaining).
    Here user = host, 'click' events = DONE fetches, the rest = queued."""
    e = _t(spark, sf_dir, "events")
    quota = 50
    agg = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_done"),
        F.sum(F.when(F.col("event_type") != "click", 1).otherwise(0)).alias("n_pending"),
    )
    remaining = F.greatest(F.lit(quota) - F.col("n_done"), F.lit(0))
    return agg.select(
        "user_id",
        "n_done",
        "n_pending",
        F.least(F.col("n_pending"), remaining).alias("admitted"),
        (F.col("n_pending") - F.least(F.col("n_pending"), remaining)).alias("deferred"),
    )


def c06_dns_map(spark, sf_dir):
    """N6 DNS prefetch, end-to-end through the REAL engine path: distinct
    hosts -> DISTRIBUTED mapInPandas resolve (one DeterministicResolver +
    TTL cache per python worker — dns.resolve_hosts, with no driver-side
    collect) -> size-gated broadcast {host: addr} join
    (dns.with_addrs). The oracle recomputes the resolver's md5-derived
    fake IPv4 in pure DuckDB SQL — an independent implementation of the
    same contract, so a hash match verifies the worker-side resolution,
    the prefetch bounding, and the join plumbing."""
    from .dns import DeterministicResolver, with_addrs

    e = _t(spark, sf_dir, "events")
    slice_df = e.select(
        F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(128)).cast("string"),
                 F.lit(".example.org")).alias("host")
    ).distinct()
    out = with_addrs(spark, slice_df, resolver_factory=DeterministicResolver,
                     n_hosts_hint=128)
    return out.select("host", "addr")


# ---------------------------------------------------------------------------
# training-data plane
# ---------------------------------------------------------------------------

def t01_text_profile(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.round(tx.avg_token_len(F.col("text")), 4).alias("avg_token_len"),
        F.round(tx.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        tx.lang_id(F.col("text")).alias("lang_pred"),
        tx.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def t02_quality_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(tx.token_count(F.col("text"))), 4).alias("avg_tokens"),
        F.round(F.avg(tx.quality_score(F.col("text"))), 4).alias("avg_quality"),
    )


def t03_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(d)


def t04_ngram_jaccard(spark, sf_dir):
    """Exact k-gram Jaccard near-dup pairs WITH the stop-shingle cap on
    (max_df=100): shingles appearing in >100 docs are boilerplate — they
    carry no near-dup signal but quadratic join cost. The oracle applies
    the identical cap, so the gate checks the scale configuration, not
    just the unguarded small-data path."""
    d = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)


def t05_minhash_signature(spark, sf_dir):
    """MinHash signature head (first 4 hashes) — fully SQL-checkable thanks
    to the md5-derived hash family."""
    d = _t(spark, sf_dir, "documents")
    sig = dd.minhash_signatures(d, n_hashes=4)
    return sig.select(
        "doc_id",
        F.col("signature")[0].alias("h0"),
        F.col("signature")[1].alias("h1"),
        F.col("signature")[2].alias("h2"),
        F.col("signature")[3].alias("h3"),
    )


def t06_simhash_groups(spark, sf_dir):
    """16-bit SimHash hamming-0 groups — md5-derived bit votes are exactly
    reproducible in SQL, so this entry is fully oracle-checked (the
    64-bit production variant is t12)."""
    d = _t(spark, sf_dir, "documents")
    return dd.simhash_dup_groups(d, k=3, bits=16)


def t12_simhash64_banded(spark, sf_dir):
    """64-bit SimHash near-dup pairs, banded hamming<=3 (pigeonhole over 4
    x 16-bit slices; exact bit_count(xor) verify on candidates only).
    Hash-exact oracle: DuckDB HUGEINT holds the unsigned 64-bit
    md5 prefix (built from two 32-bit hex halves), so the full pipeline —
    votes, signed wrap, banding, xor popcount — replays in pure SQL
    (_simhash64_oracle). The spark-vs-pure-python cross-check also lives
    in tests/test_trainingdata_ops.py."""
    d = _t(spark, sf_dir, "documents")
    return dd.simhash64_pairs_banded(d, k=3, bands=4, max_hamming=3)


def t07_ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk(e, query_ids=[0, 1, 2, 3, 4], k=5)


def t08_ann_lsh_bucketed(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return sim.lsh_topk(e, query_ids=[0, 1, 2, 3, 4], k=5)


def t09_embedding_near_dup(spark, sf_dir):
    """Sign-LSH-bucketed near-dup pairs. Threshold 0.4, calibrated to the
    synthetic embeddings (0.8 returns zero pairs at every SF — an
    empty-vs-empty gate; max bucketed cosine in this corpus is ~0.51,
    so 0.4 yields 13/12/134 pairs at sf0.001/0.01/0.1 and the hash check
    actually verifies cosine arithmetic). Production near-dup uses 0.9+ on
    real embedding models."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup(e, threshold=0.4)


def t11_ann_ivf(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer, nprobe probing) — the scale path
    beyond sign-LSH; iterative k-means is not SQL-expressible, so this
    entry takes the rows-only check. The RECALL contract is gated
    separately (t11b)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(e, query_ids=[0, 1, 2, 3, 4], k=5, nlist=8, nprobe=4)


def t11b_ann_ivf_recall(spark, sf_dir):
    """IVF recall contract, made hash-checkable: compute IVF top-5 AND
    brute-force top-5 in the same query, emit overall recall >= 0.5 as a
    boolean — the oracle states the contract, so the gate verifies the
    index is a faithful ANN, not merely that it returns rows."""
    e = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = sim.cosine_topk(e, query_ids=qids, k=5).select("query_id", "neighbor_id")
    approx = sim.ivf_topk(e, query_ids=qids, k=5, nlist=8, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    hit = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    return exact.agg(F.count("*").alias("n_exact")).crossJoin(
        hit.agg(F.count("*").alias("n_hit"))
    ).select(
        F.col("n_exact"),
        (F.col("n_hit") / F.col("n_exact") >= 0.5).alias("recall_ok"),
    )


def t13_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the Jaccard pair graph
    (iterative min-label propagation). The oracle computes the identical
    components with a recursive CTE — full hash verification of a
    distributed iterative algorithm."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
    return dd.dup_clusters(pairs)


def t14_corpus_prep(spark, sf_dir):
    """The composed training-corpus prep pipeline (lang filter -> quality
    filter -> exact dedup -> near-dup cluster removal), end-to-end
    hash-verified against one SQL statement."""
    from . import pipeline

    d = _t(spark, sf_dir, "documents")
    return pipeline.corpus_prep(
        d, lang="en", min_quality=0.5, jaccard_threshold=0.5, k=3, max_df=100
    )


def t15_pii_audit(spark, sf_dir):
    """Per-doc PII audit + scrubbed-text md5 (the C4/Dolma release scrub):
    email/phone counts via regexp_extract_all, redaction via
    regexp_replace — patterns chosen to behave identically in Java regex
    and DuckDB's RE2, so the scrub is byte-verified by the oracle."""
    d = _t(spark, sf_dir, "documents")
    out = tx.pii_audit(d)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "scrubbed_md5",
    )


def t16_paragraph_dedup(spark, sf_dir):
    """Cross-doc duplicated sub-document units (RefinedWeb/Dolma paragraph
    dedup): explode, hash, one hash-agg shuffle. Gate granularity = token
    (delimiter ' ', min_chars 4): the synthetic documents have no sentence
    or line structure and no cross-doc duplicate sentences at sf0.01
    (a '. '-split gate would verify empty-vs-empty), so the gate
    runs the identical operator at the one granularity where the corpus
    HAS cross-doc duplicates (24 groups at sf0.01 — counts, n_docs and
    keep_doc_id all hash-checked). Real paragraph semantics over multi-
    line text are proven by tests/test_warc_and_pii.py's non-empty
    fixture; production uses the newline default."""
    d = _t(spark, sf_dir, "documents")
    return tx.paragraph_dedup_groups(d, min_chars=4, delimiter=" ")


def t17_contamination(spark, sf_dir):
    """Benchmark-contamination check: docs sharing >= 2 distinct
    word-3-gram shingles with a probe set (doc_id % 20 == 0 stands in for
    the benchmark). Equi-join on shingle with the (small) probe side
    broadcast — never doc x probe pairs."""
    d = _t(spark, sf_dir, "documents")
    probe = d.filter(F.col("doc_id") % 20 == 0)
    return tx.contamination_check(d, probe, k=3, min_shared=2)


def t18_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-line fraction,
    dup-line char fraction, top-2-gram char coverage, flag). Sentence
    delimiter for the gate (synthetic docs are single-line); newline in
    production. Two explode+hash-agg pipelines joined on doc_id."""
    d = _t(spark, sf_dir, "documents")
    return tx.repetition_signals(d, line_delimiter=r"\. ")


def t19_line_dedup(spark, sf_dir):
    """C4-style global keep-first line dedup WITH document reconstruction
    (Raffel et al. 2020 §2.2) — the producing half of dedup: t16 reports
    duplicate groups, this emits the cleaned corpus. Token granularity for
    the gate (delimiter ' ', min_chars 4 — same reasoning as t16: the
    synthetic docs only have cross-doc duplicates at token granularity);
    newline units in production. Keep-first winner is a
    partial-aggregatable min(struct(doc_id, pos)) per line hash — no
    skewed row_number window over the exploded relation."""
    d = _t(spark, sf_dir, "documents")
    return tx.line_dedup_corpus(d, min_chars=4, delimiter=" ", joiner=" ")


def t20_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixture subsampling (the per-source
    up/down-weighting pass of corpus assembly): keep iff the md5-derived
    uniform u(doc_id) < rate(source). Pure filter — zero shuffles — with
    an engine-independent coin so reruns/resumes keep identical samples;
    the oracle recomputes u from md5 hex digits in pure SQL."""
    d = _t(spark, sf_dir, "documents")
    kept = tx.stratified_sample(
        d, {"src0": 0.5, "src1": 0.25}, default_rate=0.1
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_kept_doc"),
        F.max("doc_id").alias("max_kept_doc"),
    )


def t21_quality_deciles(spark, sf_dir):
    """Exact per-language quality deciles via a bounded-cardinality
    histogram (score rounds to 4 decimals -> <=10^4 distinct per lang):
    hash-agg the histogram, run the cumulative window over the TINY
    aggregated table, never a per-language global sort of raw docs (the
    skew scale-killer ntile() would be on a web corpus)."""
    d = _t(spark, sf_dir, "documents")
    return tx.quality_deciles(d)


def t10_label_centroid_sim(spark, sf_dir):
    """Per-label mean cosine vs label-0 centroid — aggregate over vector
    column via element-wise avg (posexplode-free: aggregate on arrays)."""
    e = _t(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(F.element_at("embedding", 1)), 6).alias("mean_dim1"),
        F.round(F.avg(F.element_at("embedding", 2)), 6).alias("mean_dim2"),
    )


def t22_window_dup_stats(spark, sf_dir):
    """ExactSubstr-style duplicated-span audit (Lee et al. 2022) at
    8-token-window granularity: per doc, how many of its token windows
    also appear in another document. Two hash-aggs + one equi-join on
    the window hash — the shuffle-engine shape of the suffix-array pass
    (suffix arrays don't shard; hash-aggregations do). 45/47 docs
    trigger at sf0.001/sf0.01, so the gate verifies real span overlap
    arithmetic, not empty-vs-empty."""
    d = _t(spark, sf_dir, "documents")
    return tx.window_dup_stats(d, w=8)


def t23_semdedup(spark, sf_dir):
    """SemDeDup removal list (Abbas et al. 2023), deterministic
    lowest-id-wins variant: within a sign-LSH bucket, a doc is removed
    iff a lower-id doc sits within cosine >= 0.4 (threshold calibrated
    like t09 — the synthetic corpus's max bucketed cosine is ~0.51).
    Inherits the bucketed pair join (never corpus x corpus), then one
    hash-agg keyed by the removed id."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.semdedup_removals(e, threshold=0.4)


def t24_df_vocabulary(spark, sf_dir):
    """Per-language document-frequency vocabulary with IDF: top-20 terms
    per lang ranked by the integer df (term-asc ties), the stopword
    induction / TF-IDF feeder table. Within-doc distinct happens inside
    the row (array_distinct before explode — no corpus-wide shuffle);
    the rank window runs over the aggregated vocabulary, never raw
    docs."""
    d = _t(spark, sf_dir, "documents")
    return tx.df_vocabulary(d, top_k=20)


def t25_fuzzy_dedup_removals(spark, sf_dir):
    """The full fuzzy-dedup REMOVAL LIST (SlimPajama/The-Stack shape):
    MinHash(8) -> 4-band LSH candidates -> exact-Jaccard verify ->
    connected components -> drop non-minimum docs. The oracle replays
    the IDENTICAL probabilistic pipeline in SQL — the same md5-derived
    universal hashes, the same band equi-join, the same verify and
    recursive-CTE closure — so the removal set (including LSH's misses)
    is hash-verified end to end."""
    d = _t(spark, sf_dir, "documents")
    return dd.fuzzy_dedup_removals(
        d, n_hashes=8, bands=4, k=3, threshold=0.2, max_df=100
    )


def t26_token_budget(spark, sf_dir):
    """Training-token budget card: per-language doc/token totals, corpus
    share, cumulative share largest-first — the data-mixture table a
    training run publishes. One hash-agg shuffle collapses the corpus to
    |langs| rows; every window runs over that tiny aggregate."""
    d = _t(spark, sf_dir, "documents")
    return tx.token_budget(d, by="lang")


def t27_incremental_dedup(spark, sf_dir):
    """Cross-round incremental exact dedup: the 'new batch' (doc_id % 3
    != 0) dedups against the accumulated corpus' fingerprints (doc_id %
    3 == 0) via one anti-join — the continuous-crawl corpus-feeding
    shape that never re-dedups history."""
    d = _t(spark, sf_dir, "documents")
    new_docs = d.filter(F.col("doc_id") % 3 != 0)
    seen = dd.exact_dedup(d.filter(F.col("doc_id") % 3 == 0)).select("fingerprint")
    return dd.incremental_exact_dedup(new_docs, seen)


def t28_transition_pagerank(spark, sf_dir):
    """Session transition graph + weighted PageRank (3 fixed iterations,
    d=0.85) — the OPIC/PageRank frontier-prioritization primitive: edge
    extraction is one lag window sharded by session, the recurrence is
    one equi-join + hash-agg per iteration over the aggregated graph.
    Ranks round to 9 per iteration so the unrolled-SQL oracle carries
    bit-identical values across iterations."""
    ev = _t(spark, sf_dir, "events")
    return gr.pagerank(gr.transition_edges(ev), iters=3, damping=0.85)


def t29_decontaminate(spark, sf_dir):
    """Producing half of t17 (RefinedWeb/GPT-3-style decontamination):
    the corpus with the probe set and every doc sharing >= 2 distinct
    3-gram shingles with it removed. Probe-shingle broadcast join +
    two anti-joins — never doc x probe."""
    d = _t(spark, sf_dir, "documents")
    probe = d.filter(F.col("doc_id") % 20 == 0)
    return tx.decontaminate(d, probe, k=3, min_shared=2).select(
        "doc_id", "lang", "source"
    )


def _synth_urls(d: DataFrame) -> DataFrame:
    """Deterministic URL column for the url-filter gate (the driver's
    tables carry no URLs): doc_id-keyed so Spark and the SQL oracle
    build byte-identical strings, with mod-classes that exercise every
    rule — blocked host (%19), media extension (%17), long path (%23),
    param spam (%13), digit-heavy path (%29)."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(did % 19 == 0, F.lit("ads.example.com")).otherwise(
                F.concat(F.col("source"), F.lit(".example.com"))
            ),
            F.lit("/"),
            F.col("lang"),
            F.lit("/"),
            F.when(
                did % 29 == 0,
                F.substring(F.repeat(did.cast("string"), 40), 1, 40),
            ).otherwise(F.md5(did.cast("string"))),
            F.when(did % 17 == 0, F.lit(".jpg")).otherwise(F.lit("")),
            F.when(
                did % 23 == 0, F.concat(F.lit("/"), F.repeat(F.lit("x"), 300))
            ).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit("?a=1&b=2&c=3&d=4&e=5")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )


def t30_url_filter(spark, sf_dir):
    """URL-level filtering (RefinedWeb/UT1 shape) — the first, cheapest
    attrition stage of a web corpus: blocklisted domain, media/binary
    extension, over-long URL, query-param spam, digit-heavy path, with
    FIRST-FAIL attribution per URL. Stateless projection + filter (zero
    shuffles; the verdict runs inside the scan's codegen stage)."""
    d = _t(spark, sf_dir, "documents")
    filtered = uf.url_filter(
        _synth_urls(d),
        blocked_hosts=["ads.example.com"],
        max_len=120,
        max_params=4,
        max_digit_ratio=0.5,
    )
    return filtered.select("doc_id", "host", "first_fail", "keep")


def t31_filter_funnel(spark, sf_dir):
    """First-fail quality funnel (C4/Gopher/FineWeb lineage): every doc
    charged to the first rejecting rule; one hash-agg collapses the
    corpus to <=6 report rows (verdict, docs, tokens, shares). All six
    verdicts non-empty at the gate SFs — a discriminating gate."""
    d = _t(spark, sf_dir, "documents")
    return tx.quality_funnel(
        d,
        min_tokens=20,
        max_tokens=90,
        allowed_langs=("en", "es", "fr", "zh"),
        min_quality=0.6,
        min_distinct_ratio=0.4,
    )


def t32_sequence_packing(spark, sf_dir):
    """Packed-sequence assembly plan (causal-LM training prep): docs
    concatenated in deterministic shard order, cut every 256 tokens,
    each doc assigned to the sequence where it starts. Sharded by
    (lang, md5-bucket) so the cumsum window never globally sorts the
    corpus; the md5 coin makes the plan engine-independent."""
    d = _t(spark, sf_dir, "documents")
    return tx.sequence_packing(d, budget_tokens=256, n_buckets=4)


def t33_packed_text(spark, sf_dir):
    """The PRODUCING half of t32: one row per packed sequence with the
    member docs' text concatenated in doc_id order. The gate carries
    md5(packed text) instead of the text itself so the value hash
    verifies the packed BYTES without hauling the corpus through the
    compare; one exchange total (the groupBy reuses the window
    shuffle)."""
    d = _t(spark, sf_dir, "documents")
    p = tx.packed_sequences(d, budget_tokens=256, n_buckets=4)
    return p.select(
        "shard", "bucket", "seq_id", "n_docs", "seq_tokens", "first_doc",
        F.md5(F.col("text")).alias("text_md5"),
    )


def t34_url_trap_stats(spark, sf_dir):
    """Crawl-trap detection by URL-template explosion: collapse digit
    runs in each path to ``D`` and count concrete URLs per (host,
    template) — calendar mazes and session-id mints light up as one
    template with an unbounded count. One projection (two regexes in
    scan codegen) + one hash-agg; the share window runs over the tiny
    (host, template) aggregate, never raw URLs. URLs synthesized
    deterministically from doc_id: every third doc mints a
    calendar-shaped URL (the trap), the rest get md5 paths."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("bigint")
    urls = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit("/cal/"),
                    (did % 97).cast("string"),
                    F.lit("/day/"),
                    (did % 31).cast("string"),
                ),
            ).otherwise(
                F.concat(F.lit("/p/"), F.md5(did.cast("string")))
            ),
        ).alias("url")
    )
    return uf.url_trap_stats(urls, min_urls=5)


def t35_domain_stats(spark, sf_dir):
    """Domain-level quality aggregation (FineWeb shape): per source
    domain — doc count, corpus-wide exact-duplicate rate, mean tokens,
    mean quality, keep verdict. The synthetic corpus has no exact
    duplicates, so the gate injects a deterministic mirror-boilerplate
    text into every third doc of the first ten sources (doc_id is
    round-robin over sources), making dup_rate — and the verdict —
    discriminate between the two source halves."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = d.withColumn(
        "text",
        F.when(
            (did % 20 < 10) & (did % 3 == 0),
            F.concat(
                F.lit("mirror boilerplate page for "), F.col("source")
            ),
        ).otherwise(F.col("text")),
    )
    return tx.domain_stats(
        injected, by="source", max_dup_rate=0.2, min_mean_quality=0.5
    )


def t36_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution via pointer doubling (3 self-joins for
    8 hops, never a per-hop loop). Edges synthesized from doc_id:
    u{i} -> u{i+1} except every 12th node (chains of 11 — longer than
    the 8-hop cap, so capped/unresolved rows appear alongside resolved
    ones), plus a second fork edge every 50th node to exercise the
    min(dst) determinize step."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    chain = d.filter(did % 12 != 11).select(
        u(did).alias("src"), u(did + 1).alias("dst")
    )
    fork = d.filter(did % 50 == 0).select(
        u(did).alias("src"), u(did + 2).alias("dst")
    )
    return gr.resolve_redirects(chain.unionAll(fork), max_hops=8)


def t37_revisit_schedule(spark, sf_dir):
    """Freshness-driven revisit scheduling (Cho & Garcia-Molina):
    change rate + next re-crawl interval per URL from a synthetic fetch
    history (100 urls x 5 rounds; a third change every round, a third
    never, a third every other round — so all three policy branches
    produce rows: rate-proportional, exponential backoff, clamp)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    uid = did % 100
    rnd = F.floor(did / 100).cast("long")
    fp = (
        F.when(uid % 3 == 0, F.concat(F.lit("c"), rnd.cast("string")))
        .when(uid % 3 == 1, F.lit("s"))
        .otherwise(
            F.concat(
                F.lit("h"), F.floor(rnd / 2).cast("long").cast("string")
            )
        )
    )
    hist = d.select(
        F.concat(F.lit("u"), uid.cast("string")).alias("url"),
        rnd.alias("round"),
        fp.alias("fingerprint"),
    )
    return sched.revisit_schedule(hist, base_interval=1, max_interval=8)


def t38_host_link_graph(spark, sf_dir):
    """Host-level link graph from raw HTML (the PageRank/OPIC input a
    crawler maintains over its own corpus): href extraction via
    regexp_extract_all in scan codegen, explode, one hash-agg. Pages
    synthesized from doc_id with one absolute link, one
    protocol-relative link, and one relative (self-host, dropped)
    link each; every-10th doc's computed targets land on its own host
    and exercise the self-loop filter."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/d/"),
        did.cast("string"),
    )
    html = F.concat(
        F.lit('<a href="https://src'),
        ((did + 1) % 20).cast("string"),
        F.lit('.example.com/a">x</a><a href="//src'),
        ((did * 7) % 20).cast("string"),
        F.lit('.example.com/b">y</a><a href="/nav">z</a>'),
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    return gr.host_link_graph(pages)


def t39_sitemap_discovery(spark, sf_dir):
    """Sitemap discovery from robots.txt pages: one synthetic robots.txt
    per source host (two Sitemap lines, one lowercase — the field is
    case-insensitive per spec) plus decoy pages whose Sitemap lines must
    be ignored because the url is not /robots.txt."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    is_r = did < 20
    url = F.when(
        is_r,
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/robots.txt"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            did.cast("string"),
        )
    )
    body = F.when(
        is_r,
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\nSitemap: https://"),
            F.col("source"),
            F.lit(".example.com/sitemap.xml\nsitemap: https://"),
            F.col("source"),
            F.lit(".example.com/news.xml"),
        ),
    ).otherwise(F.lit("Sitemap: https://decoy.example.com/s.xml"))
    pages = d.select(url.alias("url"), body.alias("text"))
    return rb.sitemap_urls(pages)


def t40_cdx_index(spark, sf_dir):
    """CDX URL index over a synthetic capture set: mixed-case hosts
    (lowercasing), query strings kept, fragments stripped, empty path ->
    '/', md5 digest + byte length, 14-digit capture ts."""
    from . import cdx

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.COM"),
        F.when(did % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/d/"), did.cast("string"))
        ),
        F.when(did % 4 == 0,
               F.concat(F.lit("?q="), (did % 7).cast("string"))
               ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    ts = F.expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
    )
    pages = d.select(
        url.alias("url"), ts.alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
    )
    return cdx.cdx_index(pages)


def t41_anchor_text(spark, sf_dir):
    """Anchor-text aggregation per link target: absolute / protocol-
    relative / root-relative hrefs resolve; fragment + directory-relative
    + empty-text anchors drop; winner = most frequent text, lexicographic
    tiebreak."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    topic = (did % 10).cast("string")
    vote = F.when(did % 3 < 2, F.lit("AAA")).otherwise(F.lit("BBB"))
    tie = F.when(did % 2 == 0, F.lit("tie-b")).otherwise(F.lit("tie-a"))
    html = F.concat(
        F.lit('<a href="https://hub.example.com/t/'), topic,
        F.lit('">Topic '), topic, F.lit("</a>"),
        F.lit('<a href="//cdn'), (did % 3).cast("string"),
        F.lit('.example.com/x">cdn asset</a>'),
        F.lit('<a href="/about">About Us</a>'),
        F.lit('<a href="https://hub.example.com/top">'), vote,
        F.lit("</a>"),
        F.lit('<a href="https://hub.example.com/tie">'), tie,
        F.lit("</a>"),
        F.lit('<a href="#top">skip-frag</a>'),
        F.lit('<a href="rel/path">skip-rel</a>'),
        F.lit('<a href="https://hub.example.com/t/1"></a>'),
    )
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            did.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    return gr.anchor_text(pages)


def t42_crawl_delta(spark, sf_dir):
    """Recrawl delta between two rounds: added / removed / changed /
    unchanged from one conditional-max hash-agg over the (url, round,
    fingerprint) history shape."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    pair = F.expr("doc_id div 2")
    hist = d.select(
        F.concat(F.lit("https://ex.com/u/"), pair.cast("string"))
        .alias("url"),
        (did % 2).cast("int").alias("round"),
        F.when(pair % 3 == 0, F.lit("same"))
        .otherwise(did.cast("string")).alias("fingerprint"),
    ).filter(
        ~((did % 10 == 2) & (did % 2 == 0))  # these urls become 'added'
        & ~((did % 10 == 5) & (did % 2 == 1))  # these become 'removed'
    )
    return sched.crawl_delta(hist, 0, 1)


def t43_host_boilerplate(spark, sf_dir):
    """Per-host boilerplate-line removal: NAV (every doc of the host,
    frac 1.0) and HALF (13/25 = 0.52) lines are removed; THIRD (9/25 =
    0.36) and the unique line survive."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    half = F.expr("(doc_id div 20) % 2 = 0")
    third = F.expr("(doc_id div 20) % 3 = 0")
    text = F.concat(
        F.lit("NAV "), F.col("source"),
        F.when(
            half, F.concat(F.lit("\nHALF "), F.col("source"))
        ).otherwise(F.lit("")),
        F.when(
            third, F.concat(F.lit("\nTHIRD "), F.col("source"))
        ).otherwise(F.lit("")),
        F.lit("\nonly "), did.cast("string"),
    )
    pages = d.select(
        "doc_id", F.col("source").alias("host"), text.alias("text")
    )
    return tx.host_boilerplate_removal(pages)


def t44_page_metadata(spark, sf_dir):
    """WAT-style metadata extraction: title (trimmed, with a multiline
    variant), meta description, charset via <meta charset> or http-equiv
    (meta wins), NULLs for missing fields."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    m = did % 4
    html = (
        F.when(m == 0, F.concat(
            F.lit("<html><head><title>  Doc "), did.cast("string"),
            F.lit(" </title><meta charset=\"UTF-8\">"
                  "<meta name=\"description\" content=\"summary of doc "),
            did.cast("string"),
            F.lit("\"></head><body>x</body></html>"),
        ))
        .when(m == 1, F.concat(
            F.lit("<head><TITLE>upper "), did.cast("string"),
            F.lit("</TITLE><meta http-equiv=\"Content-Type\" "
                  "content=\"text/html; charset=ISO-8859-1\"></head>"),
        ))
        .when(m == 2, F.concat(
            F.lit("<meta name=\"description\" content=\"only desc "),
            did.cast("string"), F.lit("\"><p>body</p>"),
        ))
        .otherwise(F.lit("<body>bare page</body>"))
    )
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/m/"),
            did.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    return tx.page_metadata(pages)


def t45_outlink_stats(spark, sf_dir):
    """Zero-shuffle per-page outlink stats over the t41 anchor corpus:
    8 hrefs/page, 5 external (4 absolute to hub + 1 protocol-relative
    cdn), 3 internal (root-relative, fragment, directory-relative)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    topic = (did % 10).cast("string")
    html = F.concat(
        F.lit('<a href="https://hub.example.com/t/'), topic,
        F.lit('">Topic</a>'),
        F.lit('<a href="//cdn'), (did % 3).cast("string"),
        F.lit('.example.com/x">cdn</a>'),
        F.lit('<a href="/about">About</a>'),
        F.lit('<a href="https://hub.example.com/top">v</a>'),
        F.lit('<a href="https://hub.example.com/tie">t</a>'),
        F.lit('<a href="#top">f</a>'),
        F.lit('<a href="rel/path">r</a>'),
        # a self-host absolute link: NOT external
        F.lit('<a href="https://'), F.col("source"),
        F.lit('.example.com/self">s</a>'),
    )
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            did.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    return gr.outlink_stats(pages)


def t46_politeness_report(spark, sf_dir):
    """Politeness audit over a synthetic fetch log: every host spreads
    its 25 fetches over 5 rounds (5/round = budget-compliant at 5),
    except src0 which crams all 25 into round 0 (violation)."""
    d = _t(spark, sf_dir, "documents")
    rnd = F.when(F.col("source") == "src0", F.lit(0)).otherwise(
        F.expr("(doc_id div 20) % 5")
    )
    log = d.select(
        F.col("source").alias("host"),
        rnd.cast("int").alias("round"),
        F.concat(F.lit("https://x/"), F.col("doc_id").cast("string"))
        .alias("url"),
    )
    return sched.politeness_report(log, budget=5)


def t47_exactsubstr_removal(spark, sf_dir):
    """ExactSubstr span removal (the producing half of t22): every
    8-token window shared across >= 2 docs is cut from the text; the
    gate returns the cleaned docs with removal counts. Same corpus as
    t22, so the 45+ docs t22 flags are exactly the docs cut here."""
    d = _t(spark, sf_dir, "documents")
    return tx.exactsubstr_removal(d, w=8)


def t48_revisit_records(spark, sf_dir):
    """CDX revisit detection over a synthetic capture set where every
    source's pages cycle through 25 distinct payloads shared across
    hosts ('body-<doc_id mod 25>'): all but the first (ts, url) capture
    per digest become revisit rows pointing at the original."""
    from . import cdx

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            did.cast("string"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.concat(F.lit("body-"), (did % 25).cast("string"))
        .cast("binary")
        .alias("html"),
    )
    return cdx.revisit_records(pages)


def t49_cluster_keeper(spark, sf_dir):
    """Quality-aware near-dup removal: the t13 clusters, but the keeper
    is the highest-quality member (ties -> lowest doc_id) instead of the
    min id — the policy production fuzzy-dedup ships. Oracle replays the
    closure (recursive CTE) + the t01 quality expression + a rank."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
    clusters = dd.dup_clusters(pairs)
    quality = d.select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    )
    return dd.cluster_best_keeper(clusters, quality)


def t50_mixture_plan(spark, sf_dir):
    """Domain-mixture sampling plan with skewed targets (share of srcK
    proportional to K+1), so the binding stratum and the sub-1.0 rates
    discriminate: total_max = min(n_s/share_s), quota = floor-capped,
    rate = quota/n."""
    d = _t(spark, sf_dir, "documents")
    targets = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.substring("source", 4, 10).cast("double") + 1.0)
                / F.lit(15.0)
            ).alias("share"),
        )
    )
    return tx.mixture_plan(d, targets)


def t51_incremental_minhash(spark, sf_dir):
    """Incremental near-dedup of a NEW batch (odd doc_ids) against the
    accumulated corpus' persisted MinHash signature table (even
    doc_ids) — no history text re-read. 8 hashes x 4 bands, removal at
    estimated Jaccard >= 0.25 vs history or a lower-id batch doc; the
    oracle replays the identical probabilistic pipeline in SQL (same
    md5-derived hashes, same band join, same witness pick)."""
    d = _t(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    # the history fold here is derived live from the corpus scan (in
    # production it is a persisted table) — spread it like the batch side
    from .session import spread_input as _spread

    hist_sigs = dd.minhash_signatures(_spread(hist), n_hashes=8, k=3)
    return dd.incremental_minhash_dedup(
        new, hist_sigs, n_hashes=8, bands=4, k=3, est_threshold=0.25
    )


def t52_sitemap_entries(spark, sf_dir):
    """Sitemap XML parsing (the complement of t39's discovery): one
    synthetic sitemap.xml per doc_id < 20 host carrying a plain <loc>,
    an uppercase whitespace-padded <LOC>, and a nested sitemap-index
    entry; decoy non-sitemap pages whose <loc> tags must be ignored."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    is_sm = did < 20
    url = F.when(
        is_sm,
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/sitemap.xml"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            did.cast("string"),
        )
    )
    base = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/p/"))
    text = F.when(
        is_sm,
        F.concat(
            F.lit('<?xml version="1.0"?><urlset><url><loc>'),
            base, did.cast("string"),
            F.lit("</loc></url><url><LOC>  "),
            base, (did + 1000).cast("string"),
            F.lit(" </LOC></url><sitemap><loc>https://"),
            F.col("source"),
            F.lit(".example.com/sitemap2.xml</loc></sitemap></urlset>"),
        ),
    ).otherwise(F.lit("<url><loc>https://decoy.example.com/x</loc></url>"))
    return rb.sitemap_entries(d.select(url.alias("url"), text.alias("text")))


def t53_host_skew(spark, sf_dir):
    """P1 skew observability: a synthetic frontier where 40% of URLs
    pile onto one mega-host (the CDN-skew shape a real frontier shows)
    and the rest spread over the 20 source hosts; 16 md5-derived
    buckets, salt_threshold 100 so only the mega-host trips needs_salt
    at the gate's 500-doc corpus."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    host = F.when(did % 5 < 2, F.lit("big.example.com")).otherwise(
        F.concat(F.col("source"), F.lit(".example.com"))
    )
    urls = d.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), did.cast("string"))
        .alias("url")
    )
    return sched.host_skew_report(urls, n_buckets=16, salt_threshold=100)


def t54_shard_plan(spark, sf_dir):
    """Byte-budget shard assignment for publishing: 64 KB target shards
    in doc_id order, 100-wide value buckets so the two-phase distributed
    prefix sum exercises many buckets at every driver SF. The oracle is
    the naive global running sum — the single-partition plan this
    operator exists to avoid — proving the two-phase scan computes the
    identical assignment."""
    d = _t(spark, sf_dir, "documents")
    return tx.shard_plan(d, target_bytes=65536, bucket_width=100)


def t55_lsh_error_audit(spark, sf_dir):
    """MinHash-vs-truth calibration: per banded candidate pair, the
    signature-estimated Jaccard next to the true shingle Jaccard and the
    absolute error — 8 hashes x 4 bands, the t51 incremental-dedup
    configuration, audited instead of guessed."""
    d = _t(spark, sf_dir, "documents")
    return dd.lsh_estimate_audit(d, n_hashes=8, bands=4, k=3)


def t56_bpe_pairs(spark, sf_dir):
    """BPE first-merge statistic: corpus-wide adjacent char-pair counts
    over word types weighted by word frequency, top-20 with
    deterministic lexicographic tiebreak."""
    d = _t(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(d, top_k=20)


def t57_latency_percentiles(spark, sf_dir):
    """N3 autothrottle feedback observable: per-host p50/p95 fetch
    latency with DISCRETE (rank-picked) percentile semantics — events
    stand in as the fetch log (user buckets = hosts, value = latency),
    the same analog mapping as c01-c05."""
    e = _t(spark, sf_dir, "events")
    log = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias(
            "host"
        ),
        F.col("value").alias("latency_ms"),
    )
    return sched.latency_percentiles(log)


def t58_lm_perplexity(spark, sf_dir):
    """CCNet-shape perplexity filter with the in-engine add-0.5 bigram
    LM trained on the corpus itself: per-doc perplexity in integer
    micro-nats (order-independent sums) and head/middle/tail ntile
    buckets per language."""
    d = _t(spark, sf_dir, "documents")
    return tx.bigram_lm_perplexity(d, add_k=0.5, n_buckets=3)


def t59_dsir_weights(spark, sf_dir):
    """DSIR hashed-bigram importance weights (Xie et al. 2023): raw =
    every non-target document, target = the src0/src1 sources standing
    in for the clean domain (Wikipedia/books). Both models are
    4096-bucket hash-aggs regardless of corpus size; per-doc log weight
    summed in integer micro-nats so the hash is order-independent."""
    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(F.col("source").isin("src0", "src1"))
    raw = d.filter(~F.col("source").isin("src0", "src1"))
    return tx.dsir_importance_weights(raw, tgt, n_buckets=4096, add_k=0.5)


def t60_crawl_budget(spark, sf_dir):
    """Largest-remainder apportionment of a global fetch budget across
    hosts scored by corpus bytes (the OPIC 'crawl where the cash is'
    planning step). 997 is prime so fractional remainders genuinely
    decide the +1 seats; budgets sum exactly to 997."""
    d = _t(spark, sf_dir, "documents")
    scores = d.groupBy(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).agg(F.sum("n_chars").cast("long").alias("score"))
    return sched.crawl_budget_plan(scores, total_budget=997)


def t61_dsir_resample(spark, sf_dir):
    """The producing half of t59: Gumbel-top-k draw of 50 docs with
    probability ∝ exp(log w) under the DSIR importance weights —
    deterministic md5 Gumbel noise, integer micro-nats selection keys
    (long compares, so libm ulps can't flip the cut), TakeOrdered plan
    (partial per-partition top-k, never a global sort)."""
    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(F.col("source").isin("src0", "src1"))
    raw = d.filter(~F.col("source").isin("src0", "src1"))
    w = tx.dsir_importance_weights(raw, tgt, n_buckets=4096, add_k=0.5)
    return tx.dsir_gumbel_topk(w, k=50, temperature=1.0)


def t62_leakage_safe_split(spark, sf_dir):
    """Train/test split flipped per near-dup CLUSTER (t13's connected
    components), so no test doc has a near-copy in train. test_frac =
    0.125 is dyadic (u < 8192/65536 exactly), so the float compare is
    engine-exact."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
    return dd.leakage_safe_split(d, pairs, test_frac=0.125)


def t63_threshold_sweep(spark, sf_dir):
    """Filter-ablation card: docs/tokens retained at each candidate
    quality cutoff, computed from ONE bounded (score, docs, tokens)
    histogram × the tiny threshold grid — never one corpus pass per
    threshold."""
    d = _t(spark, sf_dir, "documents")
    return tx.quality_threshold_sweep(
        d, thresholds=[0.0, 0.3, 0.5, 0.7, 0.8, 0.9, 0.95]
    )


def t64_vocab_coverage(spark, sf_dir):
    """Zipf coverage curve: share of corpus tokens covered by the top-k
    vocabulary, per candidate k — rank/cumulative windows over the
    |vocab| aggregate only."""
    d = _t(spark, sf_dir, "documents")
    return tx.vocab_coverage(d, ks=[10, 100, 1000, 10000])


def t65_jl_projection(spark, sf_dir):
    """Deterministic ±1 Johnson-Lindenstrauss projection 64 -> 8 dims —
    the pre-LSH dimensionality-reduction stage of a 10^10-vector ANN
    pipeline. Stateless codegen projection, zero shuffles; the md5 sign
    matrix and the left-associative fold order are identical in the SQL
    twin, so the array hashes exactly."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.jl_project(e, out_dim=8, in_dim=64)


def t66_source_mirrors(spark, sf_dir):
    """Cross-source mirror matrix: shared exact-dup fingerprints per
    source pair, via in-row array combinatorics over the per-fingerprint
    source set (never a corpus self-join — the oracle IS that naive
    join). The synthetic corpus has no cross-source duplicates, so the
    gate injects 3 boilerplate variants into every 7th doc (doc_id
    round-robins over sources, so each variant lands on many sources)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = d.withColumn(
        "text",
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit("shared mirror boilerplate "),
                (did % 3).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    return tx.source_mirror_matrix(injected)


def t67_line_correction(spark, sf_dir):
    """RefinedWeb line-wise correction: junk lines (bullets, numbered
    list markers, < 3-word stubs) stripped in-row with zero shuffles;
    the gate appends 3 junk lines + 1 good line to every doc so the
    filter visibly discriminates, and carries md5(text) so the value
    hash verifies the reconstructed bytes without hauling the corpus."""
    d = _t(spark, sf_dir, "documents")
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(
                "\n- injected bullet\nshort one\n7. another bullet line\n"
                "This injected line has plenty of words to keep."
            ),
        ),
    )
    out = tx.line_quality_filter(injected)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines_in",
        "n_lines_kept",
    )


def t68_doc_keywords(spark, sf_dir):
    """Per-doc TF-IDF top-3 keywords: integer micro-nats scores (tf ·
    idf_micro — pure longs, rank can't flip on libm ulps), DF via the
    in-row array_distinct trick, rank window partitioned per document."""
    d = _t(spark, sf_dir, "documents")
    return tx.doc_keywords(d, top_k=3)


def t69_nb_lang_id(spark, sf_dir):
    """In-engine-trained char-trigram Naive Bayes language classifier
    applied back to the corpus: per-doc predicted language + integer
    micro-nats score (pure-long scoring end to end — the argmax cannot
    flip on agg order or libm ulps). The honest trained model for the
    lang-ID slot; the scorer seam still takes a real fastText."""
    d = _t(spark, sf_dir, "documents")
    return tx.nb_lang_id(d, add_k=0.5)


def t70_nb_heldout_eval(spark, sf_dir):
    """The accuracy CONTRACT for t69 (the q14c/t11b division of labor):
    train the NB classifier on a 75% md5-coin split and score the
    held-out 25% — per-language n/correct/accuracy card, the
    methodologically honest eval (self-train accuracy flatters).
    Dyadic 0.25 makes the split compare engine-exact."""
    d = _t(spark, sf_dir, "documents")
    u = tx.sample_fraction_col(F.col("doc_id"), salt="nbsplit")
    train = d.filter(u >= 0.25)
    test = d.filter(u < 0.25)
    preds = tx.nb_lang_id(test, add_k=0.5, train=train)
    hit = F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
    return preds.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(hit).cast("long").alias("n_correct"),
        F.round(
            F.sum(hit).cast("double") / F.count("*"), 6
        ).alias("accuracy"),
    )


def t71_canonical_links(spark, sf_dir):
    """Canonical-URL resolution + corpus-membership consolidation
    (graph.canonical_links): one synthetic page per doc, canonical form
    cycling through the four resolution branches by doc_id % 4 —
    absolute (to the decade-first doc), root-relative (to doc_id+1),
    self-canonical with the href-before-rel attribute order, and
    directory-relative (never a corpus url). Membership discriminates
    naturally: a root-relative target is in-corpus only when doc_id+1
    shares the source host."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
        did.cast("string"),
    )
    html = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit('<p>x</p><link rel="canonical" href="https://'),
                F.col("source"), F.lit(".example.com/d/"),
                (did - did % 10).cast("string"), F.lit('">'),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="/d/'),
                (did + 1).cast("string"), F.lit('">'),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit('<link href="https://'), F.col("source"),
                F.lit(".example.com/d/"), did.cast("string"),
                F.lit('" rel="canonical">'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<link rel="canonical" href="c'),
                (did % 5).cast("string"), F.lit('.html">'),
            )
        )
    )
    pages = d.select(page_url.alias("url"), html.alias("html"))
    return gr.canonical_links(pages)


def t72_soft404(spark, sf_dir):
    """Soft-404 detection (textops.soft404_stats): every 37th doc
    becomes a thin 'page not found' template (marker + short-for-host ->
    flagged), every 41st gets the marker APPENDED to its real text
    (marker but long -> kept), the rest keep their real text so host
    token means are real. One row per page."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
        did.cast("string"),
    )
    text = (
        F.when(did % 37 == 0, F.lit("page not found"))
        .when(did % 41 == 0,
              F.concat(F.col("text"), F.lit(" page not found")))
        .otherwise(F.col("text"))
    )
    return tx.soft404_stats(d.select(url.alias("url"), text.alias("text")))


def t73_nearest_capture(spark, sf_dir):
    """Wayback-style nearest-capture lookup (cdx.nearest_capture): a
    capture index of 50 urls x ~10 snapshots (ts = doc_id) probed by one
    query per doc_id < 150 at q_ts = (doc_id * 7) % 500 — distances and
    the equidistant->earlier tiebreak both exercised; url u49 gets no
    query and query url 'missing' (never captured) drops out."""
    from . import cdx

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    caps = d.select(
        F.concat(F.lit("u"), (did % 50).cast("string")).alias("url"),
        did.alias("ts"),
    )
    qs = d.filter(did < 150).select(
        F.when(did % 29 == 0, F.lit("missing"))
        .otherwise(F.concat(F.lit("u"), (did % 50).cast("string")))
        .alias("url"),
        ((did * 7) % 500).alias("q_ts"),
    )
    return cdx.nearest_capture(caps, qs)


def t74_cache_control(spark, sf_dir):
    """Cache-Control -> revisit hints (scheduler.cache_control_hints):
    headers cycle through the five parse branches by doc_id % 5 —
    variable max-age (some above the clamp cap), no-store beating a
    max-age in the same value, lowercase header name + no-cache,
    no Cache-Control at all, and an X-Cache-Control decoy line ahead of
    the real header (the line anchor must skip it)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(F.lit("u"), did.cast("string"))
    headers = (
        F.when(
            did % 5 == 0,
            F.concat(F.lit("Cache-Control: public, max-age="),
                     ((did * 997) % 2000000).cast("string")),
        )
        .when(did % 5 == 1, F.lit("Cache-Control: no-store, max-age=500"))
        .when(did % 5 == 2,
              F.lit("content-type: text/html\r\ncache-control: no-cache"))
        .when(did % 5 == 3, F.lit("Content-Type: text/html"))
        .otherwise(
            F.lit("X-Cache-Control: max-age=5\r\nCache-Control: max-age=120")
        )
    )
    fetches = d.select(url.alias("url"), did.alias("fetch_ts"),
                       headers.alias("headers"))
    return sched.cache_control_hints(fetches)


def t75_sitemap_lastmod(spark, sf_dir):
    """Sitemap <lastmod> freshness (robots.sitemap_lastmod): one
    synthetic sitemap per source host (doc_id < 20), each with a
    full-datetime entry (truncates to the day), a date-only entry, and a
    lastmod-free entry (dropped); every other doc is a decoy non-sitemap
    page whose <url> blocks must be ignored."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    is_sm = did < 20
    url = F.when(
        is_sm,
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/sitemap.xml")),
    ).otherwise(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/d/"), did.cast("string"))
    )
    day = (did % 28 + 1).cast("string")
    body = F.concat(
        F.lit("<urlset><url><loc> https://"), F.col("source"),
        F.lit(".example.com/a"), did.cast("string"),
        F.lit(" </loc><lastmod>2024-03-"), F.lpad(day, 2, "0"),
        F.lit("T08:30:00+00:00</lastmod></url><url><loc>https://"),
        F.col("source"), F.lit(".example.com/b"), did.cast("string"),
        F.lit("</loc><lastmod>2023-11-0"), (did % 9 + 1).cast("string"),
        F.lit("</lastmod></url><url><loc>https://"), F.col("source"),
        F.lit(".example.com/c"), did.cast("string"),
        F.lit("</loc></url></urlset>"),
    )
    pages = d.select(url.alias("url"), body.alias("text"))
    return rb.sitemap_lastmod(pages)


def t76_seed_distance(spark, sf_dir):
    """BFS hop distance from a seed set (graph.seed_distance) over a
    40-node host graph: functional edges h(i) -> h(7i mod 40) plus a
    partial chain h(i) -> h(i+1) for every third doc — multiple paths to
    the same node exercise the min-distance winner; the 6-hop cap and
    unreachable nodes discriminate vs the oracle's recursive-CTE walk."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    fn = d.select(h(did % 40).alias("src"), h((did * 7) % 40).alias("dst"))
    chain = d.filter(did % 3 == 0).select(
        h(did % 40).alias("src"), h((did % 40) + 1).alias("dst")
    )
    seeds = spark.range(1).select(F.lit("h0").alias("node"))
    return gr.seed_distance(fn.unionAll(chain), seeds, max_hops=6)


def t77_collapse_lines(spark, sf_dir):
    """Adjacent-duplicate line collapse (textops.collapse_repeated_lines):
    every doc's text is doubled into two identical lines plus a distinct
    tail (collapses 3 -> 2); every 5th doc is a pure triple-repeat
    (3 -> 1). The reconstructed text itself is hash-verified."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    body = F.when(did % 5 == 0, F.lit("x\nx\nx")).otherwise(
        F.concat(F.col("text"), F.lit("\n"), F.col("text"),
                 F.lit("\ntail-"), (did % 7).cast("string"))
    )
    return tx.collapse_repeated_lines(
        d.select("doc_id", body.alias("text"))
    )


def t78_encoding_audit(spark, sf_dir):
    """Encoding-artifact audit (textops.encoding_audit): every 11th doc
    gets three mojibake pairs appended (suspect), every 13th a U+FFFD
    replacement char, every 17th a C0 control byte, one doc a SINGLE
    mojibake marker (must stay clean); the rest are the real corpus
    texts (clean)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    text = (
        F.when(did % 11 == 0, F.concat(F.col("text"), F.lit(" Ã© Ã¨ Ã¼")))
        .when(did % 13 == 0, F.concat(F.col("text"), F.lit(" caf�")))
        .when(did % 17 == 0, F.concat(F.col("text"), F.lit("\x07")))
        .when(did == 1, F.concat(F.col("text"), F.lit(" Ã©")))
        .otherwise(F.col("text"))
    )
    return tx.encoding_audit(d.select("doc_id", text.alias("text")))


def t79_frontier_age(spark, sf_dir):
    """Frontier-age histogram (scheduler.frontier_age_report): a
    synthetic op log over 120 urls — insert at round doc_id%6, done at
    insert + doc_id%4 for 3/4 of urls (repeat dones exercise the
    first-done-wins min), the last quarter never fetched (the pending
    age = -1 row)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    u = F.concat(F.lit("u"), (did % 120).cast("string"))
    ins = d.select(u.alias("url"), (did % 6).alias("round"),
                   F.lit("insert").alias("op"))
    done = d.filter(did % 120 < 90).select(
        u.alias("url"), (did % 6 + did % 4).alias("round"),
        F.lit("done").alias("op"),
    )
    return sched.frontier_age_report(ins.unionAll(done))


def t80_hreflang(spark, sf_dir):
    """hreflang alternate extraction (graph.hreflang_alternates): each
    page declares an absolute uppercase-hreflang alternate, a
    root-relative lowercase one, and a canonical decoy link that must
    not match; within-corpus repeat tags collapse via distinct."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/en/d/"),
        did.cast("string"),
    )
    html = F.concat(
        F.lit('<link rel="alternate" hreflang="DE" href="https://'),
        F.col("source"), F.lit(".example.com/de/d/"), did.cast("string"),
        F.lit('"><link hreflang="fr" href="/fr/d/'), did.cast("string"),
        F.lit('" rel="alternate"><link rel="canonical" href="https://'),
        F.col("source"), F.lit(".example.com/en/d/"), did.cast("string"),
        F.lit('">'),
    )
    return gr.hreflang_alternates(
        d.select(url.alias("url"), html.alias("html"))
    )


def t81_web_clean(spark, sf_dir):
    """The composed WEB-side cleaning pipeline (pipeline.web_clean):
    soft-404 drop -> encoding drop -> adjacent-line collapse -> exact
    dedup by url, hash-verified END TO END (the t14 treatment for the
    crawl-specific attrition stages). Injections: every 37th doc a thin
    'page not found', every 11th mojibake x3, every 50th+7 a shared
    template (dedups to one min-url winner), every 5th a doubled text
    (collapses back to the original line)."""
    from . import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
        did.cast("string"),
    )
    text = (
        F.when(did % 37 == 0, F.lit("page not found"))
        .when(did % 11 == 0, F.concat(F.col("text"), F.lit(" Ã© Ã¨ Ã¼")))
        .when(did % 50 == 7, F.lit("duplicate template page"))
        .when(did % 5 == 0,
              F.concat(F.col("text"), F.lit("\n"), F.col("text")))
        .otherwise(F.col("text"))
    )
    return pl.web_clean(d.select(url.alias("url"), text.alias("text")))


def t82_novelty_curve(spark, sf_dir):
    """Per-round content-novelty curve (dedup.content_novelty_curve):
    4 synthetic crawl rounds (round = doc_id%4); every third doc carries
    one of 20 shared templates that recur across rounds (carried-over
    content), the rest keep their unique real text (novel in their
    round)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    text = F.when(
        did % 3 == 0,
        F.concat(F.lit("shared-template-"), (did % 20).cast("string")),
    ).otherwise(F.col("text"))
    corpus = d.select(
        (did % 4).alias("crawl_round"), text.alias("text")
    )
    return dd.content_novelty_curve(corpus)


def t83_degree_distribution(spark, sf_dir):
    """Host degree audit (graph.degree_distribution) over a weighted
    25-node functional graph (src = h(doc_id%25), dst = h(3*doc_id%25),
    weight = doc_id%5+1): sources, sinks, and both-direction nodes all
    occur, exercising the full-outer zero-fill."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    edges = d.select(
        h(did % 25).alias("src"),
        h((did * 3) % 25).alias("dst"),
        (did % 5 + 1).cast("double").alias("weight"),
    )
    return gr.degree_distribution(edges, weight_col="weight")


def t84_pmi_collocations(spark, sf_dir):
    """PMI-ranked collocations (textops.pmi_collocations) over the raw
    documents table: top-20 adjacent word pairs by integer-micro-nat
    PMI with min_count=5 and lexicographic tiebreak."""
    d = _t(spark, sf_dir, "documents")
    return tx.pmi_collocations(d, min_count=5, top_k=20)


def t85_host_components(spark, sf_dir):
    """Site-family clustering (graph.host_components): connected
    components over a synthetic host graph with multiple families —
    group g = doc_id%10 owns hosts g-n0..g-n3, each doc links
    n(doc_id%4) -> n((doc_id+1)%4) within its group, so components
    never span groups and the min-label + size path is exercised over
    ~20 families."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    mk = lambda m: F.concat(  # noqa: E731
        F.lit("g"), (did % 10).cast("string"),
        F.lit("n"), m.cast("string"),
    )
    edges = d.select(
        mk(did % 4).alias("src"), mk((did + 1) % 4).alias("dst")
    )
    return gr.host_components(edges)


def t86_hits(spark, sf_dir):
    """HITS hub/authority (graph.hits, 3 iterations) over the 25-node
    functional graph src=h(doc_id%25) -> dst=h(3*doc_id%25): the
    integer-nano-unit recurrence is replayed iteration by iteration in
    the SQL oracle, so every normalization division is hash-checked."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    edges = d.select(
        h(did % 25).alias("src"), h((did * 3) % 25).alias("dst")
    )
    return gr.hits(edges, iters=3)


def t87_char_entropy(spark, sf_dir):
    """Per-doc character-level Shannon entropy (textops.char_entropy)
    in integer micro-nats over the raw documents table — every rounded
    per-character term is hash-checked through the associative long
    sum."""
    d = _t(spark, sf_dir, "documents")
    return tx.char_entropy(d)


def t88_pld_link_stats(spark, sf_dir):
    """PLD self-promotion audit (graph.pld_link_stats): synthetic
    subdomain graph s(doc_id%2).d(doc_id%5).com where every 4th doc
    links CROSS-pld (dom+1) — targets split into all-self (share 1.0,
    flagged at 0.75) and mixed hosts, so the flag discriminates."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    host = lambda sub, dom: F.concat(  # noqa: E731
        F.lit("s"), sub.cast("string"),
        F.lit(".d"), dom.cast("string"), F.lit(".com"),
    )
    shift = (did % 4 == 0).cast("long")
    edges = d.select(
        host(did % 2, did % 5).alias("src"),
        host((did + 1) % 2, (did % 5 + shift) % 5).alias("dst"),
    )
    return gr.pld_link_stats(edges, min_in=2, self_share_min=0.75)


def t89_robots_stats(spark, sf_dir):
    """robots.txt directive audit (robots.robots_directive_stats): one
    synthetic robots.txt per source host (doc_id < 20) whose
    Allow/Disallow/Crawl-delay/Sitemap lines vary by doc_id, with
    line-anchoring decoys (X-Disallow:, mid-line 'see Disallow:') and
    non-robots pages carrying real Disallow lines that the url filter
    must ignore."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    is_r = did < 20
    url = F.when(
        is_r,
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/robots.txt")),
    ).otherwise(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/d/"), did.cast("string"))
    )
    body = F.when(
        is_r,
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(did % 2 == 0, F.lit("Allow: /pub\n")).otherwise(F.lit("")),
            F.lit("Disallow: /private\n"),
            F.when(did % 3 == 0, F.lit("Disallow: /tmp\n")).otherwise(
                F.lit("")
            ),
            F.when(did % 5 == 0, F.lit("Disallow: /\n")).otherwise(F.lit("")),
            F.when(
                did % 3 != 1,
                F.concat(F.lit("Crawl-delay: "), (did % 7).cast("string"),
                         F.lit("\n")),
            ).otherwise(F.lit("")),
            F.lit("X-Disallow: /decoy\nsee Disallow: inline mention\n"),
            F.concat(F.lit("Sitemap: https://"), F.col("source"),
                     F.lit(".example.com/sitemap.xml\n")),
        ),
    ).otherwise(F.concat(F.lit("Disallow: /\n"), F.col("text")))
    pages = d.select(url.alias("url"), body.alias("text"))
    return rb.robots_directive_stats(pages)


def t90_meta_robots(spark, sf_dir):
    """Page-level indexing directives (textops.meta_robots): html
    variants cycle noindex+nofollow, content-first attribute order,
    index+canonical, canonical-only with href-first order, and a
    name="viewport" decoy whose content must NOT read as robots."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/d/"), did.cast("string"))
    html = (
        F.when(did % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(did % 5 == 1,
              F.lit('<meta content="nofollow" name="robots">'))
        .when(did % 5 == 2,
              F.lit('<meta name="robots" content="index, follow">'
                    '<link rel="canonical" href="https://e.com/c">'))
        .when(did % 5 == 3,
              F.lit('<link href="https://e.com/c" rel="canonical">'))
        .otherwise(F.lit('<meta name="viewport" content="noindex">'))
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    return tx.meta_robots(pages)


def t91_shard_integrity(spark, sf_dir):
    """Publishing integrity card (textops.shard_integrity): 8 synthetic
    shards (doc_id % 8); each shard's digest is the md5 of its docs'
    content-md5s in doc_id order, so the gate hash-checks the ordered
    concatenation itself."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    c = d.select(
        F.concat(F.lit("sh"), (did % 8).cast("string")).alias("shard"),
        F.col("doc_id"),
        F.col("text"),
    )
    return tx.shard_integrity(c)


def t92_script_profile(spark, sf_dir):
    """Unicode script mix (textops.script_profile): doc_id%7 cycles
    pure-Cyrillic, half-Latin/half-Cyrillic homoglyph-style mixes,
    CJK, and digit/punct junk into the corpus so every flag branch
    (mixed-script, mostly-other, each script column) discriminates."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    text = (
        F.when(did % 7 == 0, F.lit("привет мир как дела"))
        .when(did % 7 == 1, F.lit("word слово word слово"))
        .when(did % 7 == 2, F.lit("汉字测试汉字测试"))
        .when(did % 7 == 3, F.lit("12345 !!! ### 678"))
        .otherwise(F.col("text"))
    )
    return tx.script_profile(d.select("doc_id", text.alias("text")))


def t93_link_reciprocity(spark, sf_dir):
    """Link-exchange audit (graph.link_reciprocity) over a 10-host ring
    graph: +1 edges exist in both directions (reciprocated), +2 edges
    only forward — except host 2's, whose reverse is injected
    (doc_id%30==2) so exactly one host reaches share 1.0 and flags."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    h = lambda c: F.concat(F.lit("h"), (c % 10).cast("string"))  # noqa: E731
    edges = d.select(
        F.when(did % 30 == 2, h(did + 2))
        .when(did % 3 == 0, h(did))
        .when(did % 3 == 1, h(did + 1))
        .otherwise(h(did)).alias("src"),
        F.when(did % 30 == 2, h(did))
        .when(did % 3 == 0, h(did + 1))
        .when(did % 3 == 1, h(did))
        .otherwise(h(did + 2)).alias("dst"),
    )
    return gr.link_reciprocity(edges)


def t94_politeness_ceiling(spark, sf_dir):
    """Politeness-bound throughput plan (scheduler.politeness_ceiling):
    frontier queue depths synthesized per 20 hosts; robots delays known
    for 10 of them (0.0..4.5 s — host h0 serves ``Crawl-delay: 0``,
    exercising the nonpositive-delay clamp to default so max_rate never
    divides by zero), the rest fall back to the 1 s default; bottleneck
    cut at 30 s drain."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    counts = (
        d.select(F.concat(F.lit("h"), (did % 20).cast("string")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("n_queued"))
    )
    delays = (
        d.filter(did < 10)
        .select(
            F.concat(F.lit("h"), did.cast("string")).alias("host"),
            (did.cast("double") * 0.5).alias("crawl_delay"),
        )
    )
    return sched.politeness_ceiling(
        counts, delays, default_delay=1.0, bottleneck_seconds=30.0
    )


def t95_apply_canonical(spark, sf_dir):
    """Canonical consolidation, applying half (graph.apply_canonical):
    pages live on doc-derived hosts h(doc_id%20) so the absolute-branch
    canonical (the decade-first doc's TRUE url) IS in corpus — those
    aliases drop and their targets accumulate n_aliases; the
    root-relative branch resolves to a same-host url of the NEXT doc
    (never in corpus — hosts cycle mod 20), exercising the
    keep-and-discover branch; self and directory-relative branches
    survive."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    page = lambda i: F.concat(  # noqa: E731
        F.lit("https://h"), (i % 20).cast("string"),
        F.lit(".example.com/d/"), i.cast("string"),
    )
    html = (
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<p>x</p><link rel="canonical" href="'),
                     page(did - did % 10), F.lit('">')),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit('<link rel="canonical" href="/d/'),
                     (did + 1).cast("string"), F.lit('">')),
        )
        .when(
            did % 4 == 2,
            F.concat(F.lit('<link href="'), page(did),
                     F.lit('" rel="canonical">')),
        )
        .otherwise(
            F.concat(F.lit('<link rel="canonical" href="c'),
                     (did % 5).cast("string"), F.lit('.html">'))
        )
    )
    return gr.apply_canonical(
        d.select(page(did).alias("url"), html.alias("html"))
    )


def t96_round_admission_plan(spark, sf_dir):
    """Full admission composition (scheduler.round_admission_plan):
    min(largest-remainder score budget, floor(round_wall/crawl_delay),
    queue depth) per host — 20 hosts, scores k%4 (zero-score hosts
    keep their queue with budget 0), robots delays for 10 hosts (h0's
    is a served ``Crawl-delay: 0`` — the clamp must keep its
    politeness_cap finite instead of NULL-dropping it from the min),
    1 s default for the rest."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    host = F.concat(F.lit("h"), (did % 20).cast("string"))
    counts = d.select(host.alias("host")).groupBy("host").agg(
        F.count("*").cast("long").alias("n_queued")
    )
    scores = d.select(
        host.alias("host"), ((did % 20) % 4).cast("double").alias("score")
    ).distinct()
    delays = d.filter(did < 10).select(
        F.concat(F.lit("h"), did.cast("string")).alias("host"),
        (did.cast("double") * 0.5).alias("crawl_delay"),
    )
    return sched.round_admission_plan(
        counts, scores, total_budget=300, round_wall=20.0, delays=delays
    )


def t97_retry_outcomes(spark, sf_dir):
    """N9 retry-funnel observable (scheduler.retry_outcome_report):
    synthetic fetch log where url k's attempt count is k%4+1 (tiers
    0-3 all populated) and the final attempt's status mixes 2xx/503 —
    the per-tier success-rate curve that prices the retry budget."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    log = d.select(
        F.concat(F.lit("u"), (did % 100).cast("string")).alias("url"),
        F.floor(did / 100).cast("long").alias("retry_count"),
        F.when((did * 3) % 7 < 3, F.lit(200)).otherwise(F.lit(503)).alias(
            "status"
        ),
    ).filter(F.col("retry_count") <= (did % 100) % 4)
    return sched.retry_outcome_report(log)


def t98_robots_churn(spark, sf_dir):
    """robots.txt churn audit (robots.robots_churn): every third doc is
    a robots capture for host h(doc_id%20) at ts=doc_id; hosts with
    host%4==1 keep a stable body (changed=false), the rest alternate
    versions by capture epoch; non-robots decoys carry Disallow lines
    the url filter must ignore."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    is_r = did % 3 == 0
    url = F.when(
        is_r,
        F.concat(F.lit("https://h"), (did % 20).cast("string"),
                 F.lit(".example.com/robots.txt")),
    ).otherwise(
        F.concat(F.lit("https://h"), (did % 20).cast("string"),
                 F.lit(".example.com/d/"), did.cast("string"))
    )
    body = F.when(
        is_r & ((did % 20) % 4 == 1),
        F.lit("User-agent: *\nDisallow: /stable"),
    ).when(
        is_r,
        F.concat(F.lit("User-agent: *\nDisallow: /v"),
                 F.when(did % 40 < 20, F.lit("A")).otherwise(F.lit("B"))),
    ).otherwise(F.concat(F.lit("Disallow: /decoy\n"), F.col("text")))
    pages = d.select(url.alias("url"), did.alias("warc_ts"),
                     body.alias("text"))
    return rb.robots_churn(pages)


def t99_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl completeness card (robots.sitemap_coverage):
    each doc's host advertises the doc's own url in a sitemap page, plus
    a ghost url (never crawled) for every third doc — per host the
    coverage ratio must count the ghosts as uncrawled and everything
    else as hit, through the real sitemap_entries extraction."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    hp = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com"))
    docurl = F.concat(hp, F.lit("/d/"), did.cast("string"))
    smurl = F.concat(hp, F.lit("/sitemap-"), did.cast("string"),
                     F.lit(".xml"))
    body = F.concat(
        F.lit("<url><loc>"), docurl, F.lit("</loc></url>"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("<url><loc>"), hp, F.lit("/ghost/"),
                     did.cast("string"), F.lit("</loc></url>")),
        ).otherwise(F.lit("")),
    )
    pages = d.select(smurl.alias("url"), body.alias("text"))
    crawled = d.select(docurl.alias("url"))
    return rb.sitemap_coverage(pages, crawled)


def t100_group_quality_wilson(spark, sf_dir):
    """Wilson-lower-bound quality roll-up (textops.group_quality_wilson):
    per source, the share of long docs (n_chars >= 300) with the
    small-sample-honest confidence bound — the float chain (sqrt
    included) must agree with the oracle to 6 dp."""
    d = _t(spark, sf_dir, "documents")
    rows = d.select(
        F.col("source").alias("host"),
        (F.col("n_chars") >= 300).alias("is_good"),
    )
    return tx.group_quality_wilson(rows, group_col="host",
                                   good_col="is_good", z=1.96)


def t101_length_drift_psi(spark, sf_dir):
    """Population-stability drift between two corpus halves
    (textops.length_drift_psi): snapshot A = even doc_ids, B = odd, over
    a 50-char-wide length histogram; per-bucket PSI terms in integer
    micro-nats (the cross-engine determinism contract)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    a = d.filter(did % 2 == 0).select("n_chars")
    b = d.filter(did % 2 == 1).select("n_chars")
    return tx.length_drift_psi(a, b, len_col="n_chars", bucket_width=50,
                               n_buckets=20)


def t102_sentence_stats(spark, sf_dir):
    """Gopher sentence-shape signals (textops.sentence_stats): per doc,
    sentence count / word count / mean words-per-sentence / long-sentence
    share — all in-row higher-order functions, integer counts with two
    exact ratio divisions (6 dp both engines)."""
    d = _t(spark, sf_dir, "documents")
    return tx.sentence_stats(d, long_words=12)


def t103_host_concentration(spark, sf_dir):
    """Corpus domain-concentration card (textops.host_concentration):
    docs mapped onto a skewed host family (doc_id % (1 + doc_id % 7) —
    host h0 dominates), HHI in integer pico units, deterministic top-k
    shares."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    rows = d.select(
        F.concat(F.lit("h"),
                 (did % (F.lit(1) + (did % 7))).cast("string")).alias("host")
    )
    return tx.host_concentration(rows)


def t104_extraction_density(spark, sf_dir):
    """Extraction-quality audit (textops.extraction_density): html
    synthesized around each doc's text with doc_id%5 anchor tags; every
    10th doc gets 200 boilerplate divs so its text-to-html ratio falls
    under the low-yield cut — lengths, ratios, link density and the
    flag must all match the oracle."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
        F.expr("repeat('<a href=\"/l\">x</a>', cast(doc_id % 5 as int))"),
        F.when(
            did % 10 == 0,
            F.expr("repeat('<div class=\"nav\">padpadpad</div>', 200)"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
                 did.cast("string")).alias("url"),
        html.alias("html"),
        F.col("text"),
    )
    return tx.extraction_density(pages)


def t105_robots_violation_audit(spark, sf_dir):
    """Robots-compliance audit (robots.robots_violation_audit): fetch
    log over 20 hosts where every fifth url sits under /private; only
    EVEN hosts publish a '/private' deny prefix — their violation
    counts must show exactly the denied fetches, odd (ruleless) hosts
    must audit to zero."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    host = F.concat(F.lit("h"), (did % 20).cast("string"))
    log = d.select(
        host.alias("host"),
        F.concat(
            F.lit("https://"), host, F.lit(".example.com"),
            F.when(did % 5 == 0, F.lit("/private/")).otherwise(F.lit("/d/")),
            did.cast("string"),
        ).alias("url"),
    )
    robots = (
        d.filter((did < 20) & (did % 2 == 0))
        .select(
            F.concat(F.lit("h"), did.cast("string")).alias("host"),
            F.array(F.lit("/private")).alias("deny_prefixes"),
        )
    )
    return rb.robots_violation_audit(log, robots)


def t106_zipf_slope(spark, sf_dir):
    """Zipf-fit corpus-health card (textops.zipf_slope): least-squares
    slope of ln(freq) vs ln(rank) over the top-50 token frequencies —
    micro-nat points, long regression sums, one-row output."""
    d = _t(spark, sf_dir, "documents")
    return tx.zipf_slope(d, top_n=50)


def t107_embedding_health(spark, sf_dir):
    """Embedding-table health card (similarity.embedding_health): every
    29th vector zeroed out so the dead-encoder counter is exercised;
    per label: counts, dim range, zero vectors, mean L2 norm in micro
    units (per-row fixed-order fold + cross-row micro-int mean)."""
    e = _t(spark, sf_dir, "embeddings")
    vid = F.col("vec_id").cast("long")
    emb = F.when(
        vid % 29 == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0.0).cast("float")),
    ).otherwise(F.col("embedding"))
    return sim.embedding_health(
        e.select(F.col("label"), emb.alias("embedding"), "vec_id")
    )


def t108_crawl_yield_curve(spark, sf_dir):
    """Discovery-decay curve (scheduler.crawl_yield_curve): 12 synthetic
    rounds whose per-doc link yield decays 40-4*round — the
    saturation flag must flip exactly where new_links/fetched crosses
    0.1, with cumulative sums over the ordered rounds."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    metrics = d.select(
        (did % 12).alias("round"),
        F.lit(1).alias("fetched"),
        F.greatest(F.lit(0), F.lit(40) - F.lit(4) * (did % 12)).alias(
            "new_links"
        ),
    )
    return sched.crawl_yield_curve(metrics, saturation_rate=0.1)


def t109_capture_cadence(spark, sf_dir):
    """Capture-cadence card (cdx.capture_cadence): 100 urls with jittered
    integer capture times (ts = doc_id + 3*(doc_id%7)) — per-url
    capture counts, exact telescoped mean gap, lag-window max gap,
    single-capture NULLs at the tail urls."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    caps = d.select(
        F.concat(F.lit("u"), (did % 100).cast("string")).alias("url"),
        (did + (did % 7) * 3).alias("ts"),
    )
    return cx.capture_cadence(caps)


def t110_stale_capture_report(spark, sf_dir):
    """Declared-vs-archived freshness gap (robots.stale_capture_report):
    each doc's sitemap declares lastmod 2024-01-(1+doc_id%28); captures
    exist only for doc_id%3!=0 at day 19723+doc_id%14 — the report must
    emit exactly the stale rows (declared day > captured day, i.e.
    doc_id%28 >= 14 here) and the never-captured holes, in integer-day
    algebra."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    hp = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com"))
    docurl = F.concat(hp, F.lit("/d/"), did.cast("string"))
    body = F.concat(
        F.lit("<urlset><url><loc>"), docurl,
        F.lit("</loc><lastmod>2024-01-"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></url></urlset>"),
    )
    pages = d.select(
        F.concat(hp, F.lit("/sitemap-"), did.cast("string"),
                 F.lit(".xml")).alias("url"),
        body.alias("text"),
    )
    caps = d.filter(did % 3 != 0).select(
        docurl.alias("url"),
        (F.lit(86400) * (F.lit(19723) + (did % 14))).alias("ts"),
    )
    return rb.stale_capture_report(pages, caps)


def t111_lix_readability(spark, sf_dir):
    """LIX readability per doc (textops.lix_readability): the
    syllable-free readability grade — words/sentences +
    100*longwords/words, long >= 7 chars."""
    d = _t(spark, sf_dir, "documents")
    return tx.lix_readability(d, long_chars=7)


def t112_vocab_growth(spark, sf_dir):
    """Corpus vocabulary card (textops.vocab_growth): total tokens,
    distinct types, hapax legomena, TTR and hapax share — the Heaps'
    companion to t106's Zipf fit, one-row output."""
    d = _t(spark, sf_dir, "documents")
    return tx.vocab_growth(d)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_project": q02_filter_project,
    "q03_like_search": q03_like_search,
    "q04_year_range": q04_year_range,
    "q05_null_empty_audit": q05_null_empty_audit,
    "q07_topk": q07_topk,
    "q09_group_count": q09_group_count,
    "q10_group_by_expr": q10_group_by_expr,
    "q11_case_buckets": q11_case_buckets,
    "q14_count_distinct": q14_count_distinct,
    "q14b_approx_distinct": q14b_approx_distinct,
    "q14c_approx_distinct_contract": q14c_approx_distinct_contract,
    "q15_conditional_agg": q15_conditional_agg,
    "q17_having": q17_having,
    "q18_group_concat": q18_group_concat,
    "q19_string_ops": q19_string_ops,
    "q24_union_dedup": q24_union_dedup,
    "q27_json_extract": q27_json_extract,
    "q28_pivot_histogram": q28_pivot_histogram,
    "q29_key_lookup": q29_key_lookup,
    "j01_fetch_join": j01_fetch_join,
    "j02_anti_join": j02_anti_join,
    "j03_semi_join": j03_semi_join,
    "c01_priority_pop": c01_priority_pop,
    "c02_host_bucket": c02_host_bucket,
    "c03_dedup_latest": c03_dedup_latest,
    "c04_retry_budget": c04_retry_budget,
    "c05_host_quota": c05_host_quota,
    "c06_dns_map": c06_dns_map,
    "t01_text_profile": t01_text_profile,
    "t02_quality_by_lang": t02_quality_by_lang,
    "t03_exact_dedup": t03_exact_dedup,
    "t04_ngram_jaccard": t04_ngram_jaccard,
    "t05_minhash_signature": t05_minhash_signature,
    "t06_simhash_groups": t06_simhash_groups,
    "t07_ann_cosine_topk": t07_ann_cosine_topk,
    "t08_ann_lsh_bucketed": t08_ann_lsh_bucketed,
    "t09_embedding_near_dup": t09_embedding_near_dup,
    "t10_label_centroid_sim": t10_label_centroid_sim,
    "t11_ann_ivf": t11_ann_ivf,
    "t11b_ann_ivf_recall": t11b_ann_ivf_recall,
    "t12_simhash64_banded": t12_simhash64_banded,
    "t13_dup_clusters": t13_dup_clusters,
    "t14_corpus_prep": t14_corpus_prep,
    "t15_pii_audit": t15_pii_audit,
    "t16_paragraph_dedup": t16_paragraph_dedup,
    "t17_contamination": t17_contamination,
    "t18_repetition_signals": t18_repetition_signals,
    "t19_line_dedup": t19_line_dedup,
    "t20_stratified_sample": t20_stratified_sample,
    "t21_quality_deciles": t21_quality_deciles,
    "t22_window_dup_stats": t22_window_dup_stats,
    "t23_semdedup": t23_semdedup,
    "t24_df_vocabulary": t24_df_vocabulary,
    "t25_fuzzy_dedup_removals": t25_fuzzy_dedup_removals,
    "t26_token_budget": t26_token_budget,
    "t27_incremental_dedup": t27_incremental_dedup,
    "t28_transition_pagerank": t28_transition_pagerank,
    "t29_decontaminate": t29_decontaminate,
    "t30_url_filter": t30_url_filter,
    "t31_filter_funnel": t31_filter_funnel,
    "t32_sequence_packing": t32_sequence_packing,
    "t33_packed_text": t33_packed_text,
    "t34_url_trap_stats": t34_url_trap_stats,
    "t35_domain_stats": t35_domain_stats,
    "t36_resolve_redirects": t36_resolve_redirects,
    "t37_revisit_schedule": t37_revisit_schedule,
    "t38_host_link_graph": t38_host_link_graph,
    "t39_sitemap_discovery": t39_sitemap_discovery,
    "t40_cdx_index": t40_cdx_index,
    "t41_anchor_text": t41_anchor_text,
    "t42_crawl_delta": t42_crawl_delta,
    "t43_host_boilerplate": t43_host_boilerplate,
    "t44_page_metadata": t44_page_metadata,
    "t45_outlink_stats": t45_outlink_stats,
    "t46_politeness_report": t46_politeness_report,
    "t47_exactsubstr_removal": t47_exactsubstr_removal,
    "t48_revisit_records": t48_revisit_records,
    "t49_cluster_keeper": t49_cluster_keeper,
    "t50_mixture_plan": t50_mixture_plan,
    "t51_incremental_minhash": t51_incremental_minhash,
    "t52_sitemap_entries": t52_sitemap_entries,
    "t53_host_skew": t53_host_skew,
    "t54_shard_plan": t54_shard_plan,
    "t55_lsh_error_audit": t55_lsh_error_audit,
    "t56_bpe_pairs": t56_bpe_pairs,
    "t57_latency_percentiles": t57_latency_percentiles,
    "t58_lm_perplexity": t58_lm_perplexity,
    "t59_dsir_weights": t59_dsir_weights,
    "t60_crawl_budget": t60_crawl_budget,
    "t61_dsir_resample": t61_dsir_resample,
    "t62_leakage_safe_split": t62_leakage_safe_split,
    "t63_threshold_sweep": t63_threshold_sweep,
    "t64_vocab_coverage": t64_vocab_coverage,
    "t65_jl_projection": t65_jl_projection,
    "t66_source_mirrors": t66_source_mirrors,
    "t67_line_correction": t67_line_correction,
    "t68_doc_keywords": t68_doc_keywords,
    "t69_nb_lang_id": t69_nb_lang_id,
    "t70_nb_heldout_eval": t70_nb_heldout_eval,
    "t71_canonical_links": t71_canonical_links,
    "t72_soft404": t72_soft404,
    "t73_nearest_capture": t73_nearest_capture,
    "t74_cache_control": t74_cache_control,
    "t75_sitemap_lastmod": t75_sitemap_lastmod,
    "t76_seed_distance": t76_seed_distance,
    "t77_collapse_lines": t77_collapse_lines,
    "t78_encoding_audit": t78_encoding_audit,
    "t79_frontier_age": t79_frontier_age,
    "t80_hreflang": t80_hreflang,
    "t81_web_clean": t81_web_clean,
    "t82_novelty_curve": t82_novelty_curve,
    "t83_degree_distribution": t83_degree_distribution,
    "t84_pmi_collocations": t84_pmi_collocations,
    "t85_host_components": t85_host_components,
    "t86_hits": t86_hits,
    "t87_char_entropy": t87_char_entropy,
    "t88_pld_link_stats": t88_pld_link_stats,
    "t89_robots_stats": t89_robots_stats,
    "t90_meta_robots": t90_meta_robots,
    "t91_shard_integrity": t91_shard_integrity,
    "t92_script_profile": t92_script_profile,
    "t93_link_reciprocity": t93_link_reciprocity,
    "t94_politeness_ceiling": t94_politeness_ceiling,
    "t95_apply_canonical": t95_apply_canonical,
    "t96_round_admission_plan": t96_round_admission_plan,
    "t97_retry_outcomes": t97_retry_outcomes,
    "t98_robots_churn": t98_robots_churn,
    "t99_sitemap_coverage": t99_sitemap_coverage,
    "t100_group_quality_wilson": t100_group_quality_wilson,
    "t101_length_drift_psi": t101_length_drift_psi,
    "t102_sentence_stats": t102_sentence_stats,
    "t103_host_concentration": t103_host_concentration,
    "t104_extraction_density": t104_extraction_density,
    "t105_robots_violation_audit": t105_robots_violation_audit,
    "t106_zipf_slope": t106_zipf_slope,
    "t107_embedding_health": t107_embedding_health,
    "t108_crawl_yield_curve": t108_crawl_yield_curve,
    "t109_capture_cadence": t109_capture_cadence,
    "t110_stale_capture_report": t110_stale_capture_report,
    "t111_lix_readability": t111_lix_readability,
    "t112_vocab_growth": t112_vocab_growth,
}

# ---------------------------------------------------------------------------
# DuckDB oracles (exact SQL twins; same aliases, same rounding)
# ---------------------------------------------------------------------------

_STOP_IN = ",".join(f"'{s}'" for s in tx.EN_STOP)

_SHINGLES = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(ts) >= 3 THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                    ELSE array_to_string(ts, ' ') END AS shingle
        FROM toks, unnest(range(1, greatest(len(ts) - 2, 1) + 1)) AS t(i)
    )
"""

ORACLES: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
    """,
    "q03_like_search": """
        SELECT doc_id, lang, source FROM documents
        WHERE text LIKE '%spark%' OR text LIKE '%shuffle%'
    """,
    "q04_year_range": """
        SELECT o_orderkey, o_custkey, CAST(extract(year FROM o_orderdate) AS int) AS order_year
        FROM orders WHERE extract(year FROM o_orderdate) BETWEEN 1997 AND 1998
    """,
    "q05_null_empty_audit": """
        SELECT count(*) AS total_docs,
               CAST(sum(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_source,
               CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_text,
               CAST(sum(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_docs
        FROM documents
    """,
    "q07_topk": """
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "q09_group_count": """
        SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY event_type
    """,
    "q10_group_by_expr": """
        SELECT CAST(extract(year FROM l_shipdate) AS int) AS ship_year,
               count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY 1
    """,
    "q11_case_buckets": """
        SELECT CASE WHEN value < 10 THEN 'small' WHEN value < 100 THEN 'medium'
                    ELSE 'large' END AS value_bucket,
               count(*) AS n_events, round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1
    """,
    "q14_count_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type
    """,
    "q15_conditional_agg": """
        SELECT CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
               CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
               count(*) AS n_total
        FROM orders
    """,
    "q17_having": """
        SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
        FROM customer GROUP BY c_mktsegment HAVING count(*) >= 10
    """,
    "q18_group_concat": """
        SELECT r_name, string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name
    """,
    "q19_string_ops": """
        SELECT doc_id, substr(source, 1, 3) AS src_prefix,
               regexp_replace(source, 'src', 'origin_', 'g') AS src_renamed,
               CASE WHEN instr(text, ' ') > 0 THEN substr(text, 1, instr(text, ' ') - 1)
                    ELSE text END AS first_token
        FROM documents
    """,
    "q24_union_dedup": """
        SELECT DISTINCT o_orderkey FROM (
            SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
            UNION ALL
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
    """,
    "q27_json_extract": """
        SELECT try_cast(props->>'$.k' AS bigint) AS k_value, count(*) AS n
        FROM events GROUP BY 1
    """,
    "q28_pivot_histogram": """
        SELECT event_type,
               CAST(sum(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS lo,
               CAST(sum(CASE WHEN value >= 50 AND value < 200 THEN 1 ELSE 0 END) AS BIGINT) AS mid,
               CAST(sum(CASE WHEN value >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS hi
        FROM events GROUP BY event_type
    """,
    "q29_key_lookup": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42
    """,
    "j01_fetch_join": """
        SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "j02_anti_join": """
        SELECT p_partkey, p_name FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey AND l_quantity > 45)
    """,
    "j03_semi_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    """,
    "c01_priority_pop": """
        SELECT user_id, event_id, value,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS int) AS rn
        FROM events
        QUALIFY rn <= 3
    """,
    "c02_host_bucket": """
        SELECT user_id % 16 AS bucket, count(*) AS n, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    """,
    "c03_dedup_latest": """
        SELECT user_id, event_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "c04_retry_budget": """
        SELECT user_id, count(*) AS n_events,
               least(count(*), 30) AS admitted,
               greatest(count(*) - 30, 0) AS deferred
        FROM events GROUP BY user_id
    """,
    "c05_host_quota": """
        WITH agg AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
                   CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_done, n_pending,
               least(n_pending, greatest(50 - n_done, 0)) AS admitted,
               n_pending - least(n_pending, greatest(50 - n_done, 0)) AS deferred
        FROM agg
    """,
    # md5-hex byte extraction in portable SQL: value of hex digit c is
    # strpos('0123456789abcdef', c) - 1; byte k of the digest is
    # 16*digit(2k+1) + digit(2k+2) of the hex string
    "c06_dns_map": """
        WITH hosts AS (
            SELECT DISTINCT 'h' || CAST(user_id % 128 AS VARCHAR) || '.example.org' AS host
            FROM events
        ), hx AS (
            SELECT host, md5(host) AS h FROM hosts
        )
        SELECT host,
               '10.'
               || CAST(16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
                       + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS VARCHAR)
               || '.'
               || CAST(16 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
                       + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS VARCHAR)
               || '.'
               || CAST(16 * (strpos('0123456789abcdef', substr(h, 5, 1)) - 1)
                       + strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS VARCHAR)
               AS addr
        FROM hx
    """,
    "t01_text_profile": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS int) AS n_tokens,
               round(CAST(length(replace(text, ' ', '')) AS double)
                     / len(string_split(text, ' ')), 4) AS avg_token_len,
               round(CAST(len(list_filter(string_split(lower(text), ' '),
                                          x -> x IN ({_STOP_IN}))) AS double)
                     / len(string_split(lower(text), ' ')), 4) AS stopword_ratio,
               CASE WHEN CAST(len(list_filter(string_split(lower(text), ' '),
                                              x -> x IN ({_STOP_IN}))) AS double)
                         / len(string_split(lower(text), ' ')) >= 0.05
                    THEN 'en' ELSE 'und' END AS lang_pred,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    "t02_quality_by_lang": """
        WITH q AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   round(least(CAST(len(string_split(text, ' ')) AS double) / 100.0, 1.0) * 0.6
                         + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                                        / length(text) * 10.0, 1.0)) * 0.4, 4) AS quality
            FROM documents
        )
        SELECT lang, count(*) AS n_docs,
               round(avg(n_tokens), 4) AS avg_tokens,
               round(avg(quality), 4) AS avg_quality
        FROM q GROUP BY lang
    """,
    "t03_exact_dedup": """
        SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS keep_doc_id, count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "t04_ngram_jaccard": _SHINGLES + """
        , shc AS (  -- stop-shingle cap, mirror of shingle_index(max_df=100)
            SELECT * FROM sh WHERE shingle NOT IN (
                SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100)
        )
        , sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter,
               round(CAST(count(*) AS double)
                     / (any_value(sa.n_sh) + any_value(sb.n_sh) - count(*)), 6) AS jaccard
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sizes sa ON sa.doc_id = a.doc_id
        JOIN sizes sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(CAST(count(*) AS double)
                     / (any_value(sa.n_sh) + any_value(sb.n_sh) - count(*)), 6) >= 0.2
    """,
    "q14c_approx_distinct_contract": """
        SELECT event_type, true AS within_tol FROM events GROUP BY event_type
    """,
    "t11b_ann_ivf_recall": """
        SELECT CAST(25 AS BIGINT) AS n_exact, true AS recall_ok
    """,
    "t12_simhash64_banded": None,  # filled below by _simhash64_oracle() (HUGEINT)
    "t07_ann_cosine_topk": """
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
                            b.vec_id ASC) AS int) AS rank
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id IN (0, 1, 2, 3, 4)
        QUALIFY rank <= 5
    """,
    "t08_ann_lsh_bucketed": """
        WITH wb AS (
            SELECT vec_id, embedding,
                   concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
            FROM embeddings
        )
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                            n.vec_id ASC) AS int) AS rank
        FROM wb q JOIN wb n ON q.bucket = n.bucket AND n.vec_id != q.vec_id
        WHERE q.vec_id IN (0, 1, 2, 3, 4)
        QUALIFY rank <= 5
    """,
    "t09_embedding_near_dup": """
        WITH wb AS (
            SELECT vec_id, embedding,
                   concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                          CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
    """,
    "t10_label_centroid_sim": """
        SELECT label, count(*) AS n_vecs,
               round(avg(embedding[1]), 6) AS mean_dim1,
               round(avg(embedding[2]), 6) AS mean_dim2
        FROM embeddings GROUP BY label
    """,
}

# MinHash oracle: the same md5-derived universal hash family, in pure SQL
def _minhash_oracle() -> str:
    from .dedup import _P, minhash_params

    params = minhash_params(4)
    cols = []
    x = "(try_cast('0x' || substr(md5(shingle), 1, 8) AS bigint) % 2147483647)"
    for i, (a, b) in enumerate(params):
        cols.append(f"min(({a} * {x} + {b}) % {_P}) AS h{i}")
    return _SHINGLES + f"SELECT doc_id, {', '.join(cols)} FROM sh GROUP BY doc_id"


ORACLES["t05_minhash_signature"] = _minhash_oracle()


# SimHash oracle: the identical 16-bit md5-derived bit-vote fold, in pure
# SQL. NOTE the shingle CTE here keeps DUPLICATE shingles (no DISTINCT):
# dedup.simhash_col votes once per OCCURRENCE, matching the reference
# notion of weighted features.
def _simhash_oracle(bits: int = 16) -> str:
    x = "(try_cast('0x' || substr(md5(shingle), 1, 8) AS bigint) % 2147483647)"
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN ({x} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(ts) >= 3 THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END AS shingle
            FROM toks, unnest(range(1, greatest(len(ts) - 2, 1) + 1)) AS t(i)
        ), sims AS (
            SELECT doc_id, CAST({terms} AS BIGINT) AS simhash
            FROM sh GROUP BY doc_id
        )
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
        FROM sims GROUP BY simhash HAVING count(*) > 1
    """


ORACLES["t06_simhash_groups"] = _simhash_oracle(16)


# 64-bit SimHash + banded hamming<=3 oracle: DuckDB BIGINT
# can't hold the unsigned 64-bit md5 prefix, but HUGEINT (int128) can —
# build it from two 32-bit hex halves, fold the 64 bit votes in HUGEINT,
# convert to two's-complement BIGINT to mirror Spark's signed long, band
# into 4 x 16-bit slices on the UNSIGNED value (Spark uses
# shiftrightunsigned), and verify candidates with bit_count(xor) exactly
# like dedup.simhash64_pairs_banded. Shingle CTE keeps DUPLICATES (votes
# are per occurrence), matching simhash64_col's tokenization contract.
def _simhash64_oracle(bands: int = 4, max_hamming: int = 3) -> str:
    width = 64 // bands
    mask = (1 << width) - 1
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(64)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(ts) >= 3 THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END AS shingle
            FROM toks, unnest(range(1, greatest(len(ts) - 2, 1) + 1)) AS t(i)
        ), hh AS (
            SELECT doc_id,
                   (try_cast('0x' || substr(md5(shingle), 1, 8) AS BIGINT)::HUGEINT
                    * 4294967296
                    + try_cast('0x' || substr(md5(shingle), 9, 8) AS BIGINT)) AS h
            FROM sh
        ), sims AS (
            SELECT doc_id, ({terms}) AS v FROM hh GROUP BY doc_id
        ), sgn AS (
            SELECT doc_id, v,
                   CAST(CASE WHEN v >= 9223372036854775808
                             THEN v - 18446744073709551616 ELSE v END AS BIGINT)
                       AS simhash
            FROM sims
        ), bnd AS (
            SELECT doc_id, simhash,
                   CAST((v >> (band * {width})) & {mask} AS BIGINT) AS slc, band
            FROM sgn, unnest([{band_list}]) AS b(band)
        ), cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sa, y.simhash AS sb
            FROM bnd x JOIN bnd y
              ON x.band = y.band AND x.slc = y.slc AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


ORACLES["t12_simhash64_banded"] = _simhash64_oracle(4, 3)


# Connected components as a recursive CTE — the exact twin of
# dedup.dup_clusters' min-label propagation (transitive closure, then
# min reachable id per node). `pairs_sql` must select (doc_a, doc_b).
def _closure_sql(pairs_sql: str) -> str:
    return f"""
        , cc_pairs AS ({pairs_sql})
        , cc_edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cc_pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM cc_pairs
        )
        , cc_reach(src, dst) AS (
            SELECT src, dst FROM cc_edges
            UNION
            SELECT r.src, e.dst FROM cc_reach r JOIN cc_edges e ON r.dst = e.src
        )
        , cc_labels AS (
            SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
            FROM cc_reach GROUP BY src
        )
    """


_T04_PAIRS_BODY = """
        , shc AS (
            SELECT * FROM sh WHERE shingle NOT IN (
                SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100)
        )
        , sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id)
        , jac AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(count(*) AS double)
                         / (any_value(sa.n_sh) + any_value(sb.n_sh) - count(*)), 6) AS jaccard
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            JOIN sizes sa ON sa.doc_id = a.doc_id
            JOIN sizes sb ON sb.doc_id = b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
"""

ORACLES["t13_dup_clusters"] = (
    "WITH RECURSIVE "
    + _SHINGLES.strip().removeprefix("WITH")
    + _T04_PAIRS_BODY
    + _closure_sql("SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2")
    + "SELECT doc_id, cluster_id FROM cc_labels"
)

ORACLES["t14_corpus_prep"] = (
    f"""
    WITH RECURSIVE q AS (
        SELECT doc_id, text,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x IN ({_STOP_IN}))) AS double)
                   / len(string_split(lower(text), ' ')) AS swr,
               round(least(CAST(len(string_split(text, ' ')) AS double) / 100.0, 1.0) * 0.6
                     + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                                    / length(text) * 10.0, 1.0)) * 0.4, 4) AS quality
        FROM documents
    ), base AS (
        SELECT doc_id, text FROM q WHERE swr >= 0.05 AND quality >= 0.5
    ), keep_exact AS (
        SELECT min(doc_id) AS doc_id FROM (
            SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp, doc_id
            FROM base
        ) GROUP BY fp
    ), surv AS (
        SELECT b.doc_id, b.text FROM base b JOIN keep_exact k ON b.doc_id = k.doc_id
    ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM surv
    ), sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(ts) >= 3 THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                    ELSE array_to_string(ts, ' ') END AS shingle
        FROM toks, unnest(range(1, greatest(len(ts) - 2, 1) + 1)) AS t(i)
    )
    """
    + _T04_PAIRS_BODY
    + _closure_sql("SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5")
    + """
    SELECT doc_id FROM surv
    WHERE doc_id NOT IN (SELECT doc_id FROM cc_labels WHERE doc_id != cluster_id)
    """
)

# LLM-pipeline gates: PII scrub, paragraph dedup, contamination
from .textops import EMAIL_RE as _EMAIL_RE
from .textops import PHONE_RE as _PHONE_RE

ORACLES["t15_pii_audit"] = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM documents
"""

ORACLES["t16_paragraph_dedup"] = """
    WITH paras AS (
        SELECT doc_id, trim(p) AS para
        FROM documents, unnest(string_split(text, ' ')) AS t(p)
        WHERE len(trim(p)) >= 4
    )
    SELECT md5(para) AS para_hash,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM paras GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
"""

ORACLES["t17_contamination"] = _SHINGLES + """
    , probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0)
    SELECT s.doc_id, count(*) AS n_shared_shingles
    FROM sh s JOIN probe p USING (shingle)
    WHERE s.doc_id % 20 != 0
    GROUP BY s.doc_id HAVING count(*) >= 2
"""

ORACLES["t18_repetition_signals"] = """
    WITH lines AS (
        SELECT doc_id, p AS line
        FROM documents, unnest(string_split(text, '. ')) AS t(p)
    ), per_line AS (
        SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2
    ), line_sig AS (
        SELECT doc_id,
               round(sum(cnt - 1) / sum(cnt), 6) AS dup_line_frac,
               round(sum((cnt - 1) * length(line))
                     / sum(cnt * length(line)), 6) AS dup_line_char_frac
        FROM per_line GROUP BY doc_id
    ), toks AS (
        SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ts
        FROM documents
    ), sh2 AS (
        SELECT doc_id, n_chars,
               CASE WHEN len(ts) >= 2 THEN ts[i] || ' ' || ts[i+1]
                    ELSE array_to_string(ts, ' ') END AS gram
        FROM toks, unnest(range(1, greatest(len(ts) - 1, 1) + 1)) AS t(i)
    ), per_gram AS (
        SELECT doc_id, n_chars, gram, count(*) AS cnt FROM sh2 GROUP BY 1, 2, 3
    ), top AS (
        SELECT doc_id,
               round(cnt * length(gram) / n_chars, 6) AS top_2gram_char_frac,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram ASC) AS rn
        FROM per_gram QUALIFY rn = 1
    )
    SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
           t.top_2gram_char_frac,
           (l.dup_line_frac > 0.3 OR t.top_2gram_char_frac > 0.2) AS flagged
    FROM line_sig l JOIN top t USING (doc_id)
"""

ORACLES["t19_line_dedup"] = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), lines AS (
        SELECT doc_id, i AS pos, ts[i] AS line,
               len(trim(ts[i])) >= 4 AS eligible
        FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
    ), marked AS (
        SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM lines
    ), kept AS (
        SELECT *, ((NOT eligible) OR rn = 1) AS keep FROM marked
    )
    SELECT doc_id,
           coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep), '')
               AS text_deduped,
           count(*) FILTER (WHERE keep) AS n_lines_kept,
           count(*) FILTER (WHERE NOT keep) AS n_lines_dropped
    FROM kept GROUP BY doc_id
"""

ORACLES["t20_stratified_sample"] = """
    WITH hx AS (
        SELECT doc_id, source,
               md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), u AS (
        SELECT doc_id, source,
               (4096.0 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
                + 256.0 * (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
                + 16.0 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) / 65536.0
                   AS uu
        FROM hx
    )
    SELECT source, count(*) AS n_kept,
           min(doc_id) AS min_kept_doc, max(doc_id) AS max_kept_doc
    FROM u
    WHERE uu < CASE source WHEN 'src0' THEN 0.5
                           WHEN 'src1' THEN 0.25 ELSE 0.1 END
    GROUP BY source
"""

ORACLES["t21_quality_deciles"] = """
    WITH q AS (
        SELECT lang,
               round(least(CAST(len(string_split(text, ' ')) AS double) / 100.0, 1.0) * 0.6
                     + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                                    / length(text) * 10.0, 1.0)) * 0.4, 4) AS q
        FROM documents
    ), hist AS (
        SELECT lang, q, count(*) AS cnt FROM q GROUP BY 1, 2
    ), cum AS (
        SELECT lang, q, cnt,
               CAST(least(ceil(10.0 * sum(cnt) OVER (PARTITION BY lang ORDER BY q
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               / sum(cnt) OVER (PARTITION BY lang)), 10) AS INTEGER)
                   AS decile
        FROM hist
    )
    SELECT lang, decile, CAST(sum(cnt) AS BIGINT) AS n_docs,
           min(q) AS min_score, max(q) AS max_score
    FROM cum GROUP BY lang, decile
"""

ORACLES["t22_window_dup_stats"] = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), wins AS (
        SELECT doc_id,
               CASE WHEN len(ts) >= 8 THEN array_to_string(ts[i:i+7], ' ')
                    ELSE array_to_string(ts, ' ') END AS win
        FROM toks, unnest(range(1, greatest(len(ts) - 7, 1) + 1)) AS t(i)
    ), hx AS (
        SELECT doc_id, md5(win) AS win_hash, count(*) AS hits
        FROM wins GROUP BY 1, 2
    ), dfc AS (
        SELECT win_hash, count(*) AS n_docs FROM hx GROUP BY 1
    )
    SELECT doc_id,
           CAST(sum(hits) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN n_docs >= 2 THEN hits ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           round(sum(CASE WHEN n_docs >= 2 THEN hits ELSE 0 END)::DOUBLE
                 / sum(hits), 6) AS dup_fraction
    FROM hx JOIN dfc USING (win_hash)
    GROUP BY doc_id
    HAVING n_dup_windows > 0
"""

ORACLES["t23_semdedup"] = """
    WITH wb AS (
        SELECT vec_id, embedding,
               concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cosine
        FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= 0.4
    )
    SELECT id_b AS doc_id, min(id_a) AS kept_witness,
           max(cosine) AS max_cosine, CAST(count(*) AS BIGINT) AS n_neighbors
    FROM pairs GROUP BY 1
"""

ORACLES["t24_df_vocabulary"] = """
    WITH tk AS (
        SELECT DISTINCT lang, doc_id, t AS term
        FROM documents, unnest(string_split(text, ' ')) AS u(t)
        WHERE t <> ''
    ), dfc AS (
        SELECT lang, term, count(*) AS df FROM tk GROUP BY 1, 2
    ), ranked AS (
        SELECT lang, term, df,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY df DESC, term ASC) AS int) AS rank
        FROM dfc
    ), nd AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
    )
    SELECT lang, term, df, n_docs,
           round(ln(n_docs::DOUBLE / df), 6) AS idf, rank
    FROM ranked JOIN nd USING (lang)
    WHERE rank <= 20
"""

def _fuzzy_removals_oracle() -> str:
    """SQL twin of t25: the SAME md5-derived universal hashes
    (minhash_params(8)), the SAME 4-band x 2-row LSH candidate join, the
    SAME max_df=100 exact-Jaccard verify, closure, removal projection —
    so even LSH's probabilistic misses are reproduced exactly."""
    from .dedup import _P, minhash_params

    params = minhash_params(8)
    x = "(try_cast('0x' || substr(md5(shingle), 1, 8) AS bigint) % 2147483647)"
    hcols = ", ".join(
        f"min(({a} * {x} + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(params)
    )
    band_joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigs a JOIN sigs b "
        f"ON a.doc_id < b.doc_id AND a.h{2 * bb} = b.h{2 * bb} "
        f"AND a.h{2 * bb + 1} = b.h{2 * bb + 1}"
        for bb in range(4)
    )
    return (
        "WITH RECURSIVE "
        + _SHINGLES.strip().removeprefix("WITH")
        + f", sigs AS (SELECT doc_id, {hcols} FROM sh GROUP BY doc_id)"
        + f", cand AS ({band_joins})"
        + _T04_PAIRS_BODY
        + _closure_sql(
            "SELECT j.doc_a, j.doc_b FROM jac j JOIN cand c "
            "ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b WHERE j.jaccard >= 0.2"
        )
        + "SELECT doc_id AS removed_doc_id, cluster_id AS keep_doc_id "
        "FROM cc_labels WHERE doc_id != cluster_id"
    )


ORACLES["t25_fuzzy_dedup_removals"] = _fuzzy_removals_oracle()

ORACLES["t26_token_budget"] = """
    WITH per AS (
        SELECT lang AS stratum, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1
    ), tot AS (SELECT sum(total_tokens) AS grand FROM per)
    SELECT stratum, n_docs, total_tokens,
           round(total_tokens / grand, 6) AS token_share,
           round(sum(total_tokens) OVER (
                     ORDER BY total_tokens DESC, stratum ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / grand,
                 6) AS cum_share,
           CAST(row_number() OVER (ORDER BY total_tokens DESC, stratum ASC) AS int)
               AS rank
    FROM per, tot
"""

ORACLES["t27_incremental_dedup"] = r"""
    WITH newb AS (
        SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS doc_id
        FROM documents WHERE doc_id % 3 != 0 GROUP BY 1
    ), seen AS (
        SELECT DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, fingerprint FROM newb
    WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
"""

def _pagerank_oracle(iters: int = 3) -> str:
    """SQL twin of t28: the identical recurrence unrolled — same DOUBLE
    op order as graph.pagerank ((1-d)/n teleport, d*sum(rank*share)),
    same per-iteration round(9), same final round(6)."""
    one = "CAST(1 AS DOUBLE)"
    d = "CAST(0.85 AS DOUBLE)"
    zero = "CAST(0 AS DOUBLE)"
    parts = [
        f"""
    WITH seq AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ), ed AS (
        SELECT src, dst, CAST(count(*) AS DOUBLE) AS weight
        FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ), nodes AS (
        SELECT src AS node FROM ed UNION SELECT dst FROM ed
    ), nn AS (SELECT count(*) AS n FROM nodes),
    outw AS (SELECT src, sum(weight) AS out_w FROM ed GROUP BY 1),
    sh AS (SELECT src, dst, weight / out_w AS share
           FROM ed JOIN outw USING (src)),
    pr0 AS (SELECT node, {one} / n AS pagerank FROM nodes, nn)
    """
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", c{i} AS (
        SELECT sh.dst, sum(p.pagerank * sh.share) AS c
        FROM sh JOIN pr{i - 1} p ON sh.src = p.node GROUP BY 1
    ), pr{i} AS (
        SELECT node, round(({one} - {d}) / n + {d} * coalesce(c, {zero}), 9)
                   AS pagerank
        FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = nodes.node
    )"""
        )
    parts.append(
        f" SELECT node, round(pagerank, 6) AS pagerank FROM pr{iters}"
    )
    return "".join(parts)


ORACLES["t28_transition_pagerank"] = _pagerank_oracle(3)

ORACLES["t29_decontaminate"] = _SHINGLES + """
    , probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0)
    , hits AS (
        SELECT s.doc_id
        FROM sh s JOIN probe p USING (shingle)
        WHERE s.doc_id % 20 != 0
        GROUP BY s.doc_id HAVING count(*) >= 2
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 20 != 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
"""

# engine-independent uniform from 4 md5 hex digits — the SQL twin of
# textops.sample_fraction_col's conv(substr(md5, 1, 4), 16, 10)
_HEX4 = """(4096 * (strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)
         + 256 * (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)
         + 16 * (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1)
         + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1))"""

ORACLES["t30_url_filter"] = """
    WITH urls AS (
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 19 = 0 THEN 'ads.example.com'
                       ELSE source || '.example.com' END
               || '/' || lang || '/'
               || CASE WHEN doc_id % 29 = 0
                       THEN substr(repeat(CAST(doc_id AS VARCHAR), 40), 1, 40)
                       ELSE md5(CAST(doc_id AS VARCHAR)) END
               || CASE WHEN doc_id % 17 = 0 THEN '.jpg' ELSE '' END
               || CASE WHEN doc_id % 23 = 0 THEN '/' || repeat('x', 300)
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN '?a=1&b=2&c=3&d=4&e=5'
                       ELSE '' END AS url
        FROM documents
    ), feat AS (
        SELECT doc_id, url,
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                   AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS q
        FROM urls
    ), v AS (
        SELECT doc_id, host,
               CASE WHEN host = 'ads.example.com' THEN 'blocked_domain'
                    WHEN regexp_matches(path,
                        '\\.(jpg|jpeg|png|gif|webp|svg|ico|css|js|woff2?|mp3|mp4|avi|mov|pdf|zip|gz|tar|rar|7z|exe|dmg|iso)$')
                        THEN 'bad_extension'
                    WHEN length(url) > 120 THEN 'too_long'
                    WHEN (CASE WHEN q = '' THEN 0
                               ELSE len(string_split(q, '&')) END) > 4
                        THEN 'too_many_params'
                    WHEN length(regexp_replace(url, '[^0-9]', '', 'g'))::DOUBLE
                         / length(url) > 0.5 THEN 'digit_heavy'
                    ELSE 'kept' END AS first_fail
        FROM feat
    )
    SELECT doc_id, host, first_fail, first_fail = 'kept' AS keep FROM v
"""

ORACLES["t31_filter_funnel"] = """
    WITH x AS (
        SELECT lang,
               len(string_split(text, ' ')) AS nt,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')) AS dr,
               round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.6
                     + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                                    / length(text) * 10.0, 1.0)) * 0.4, 4) AS q
        FROM documents
    ), v AS (
        SELECT CASE WHEN nt < 20 THEN 'too_short'
                    WHEN nt > 90 THEN 'too_long'
                    WHEN lang NOT IN ('en', 'es', 'fr', 'zh')
                        THEN 'lang_filtered'
                    WHEN q < 0.6 THEN 'low_quality'
                    WHEN dr < 0.4 THEN 'repetitive'
                    ELSE 'kept' END AS verdict,
               nt
        FROM x
    ), agg AS (
        SELECT verdict, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM v GROUP BY verdict
    )
    SELECT verdict, n_docs, n_tokens,
           round(n_docs / sum(n_docs) OVER (), 6) AS doc_share,
           round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share
    FROM agg
"""

ORACLES["t32_sequence_packing"] = f"""
    WITH rows_t AS (
        SELECT lang AS shard,
               CAST({_HEX4.format(h="md5('pack:' || CAST(doc_id AS VARCHAR))")}
                    % 4 AS INTEGER) AS bucket,
               doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), placed AS (
        SELECT shard, bucket, doc_id, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY shard, bucket
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / 256) AS BIGINT) AS seq_id
        FROM rows_t
    )
    SELECT shard, bucket, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM placed
    GROUP BY shard, bucket, seq_id
"""

ORACLES["t33_packed_text"] = f"""
    WITH rows_t AS (
        SELECT lang AS shard,
               CAST({_HEX4.format(h="md5('pack:' || CAST(doc_id AS VARCHAR))")}
                    % 4 AS INTEGER) AS bucket,
               doc_id,
               text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), placed AS (
        SELECT shard, bucket, doc_id, text, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY shard, bucket
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / 256) AS BIGINT) AS seq_id
        FROM rows_t
    )
    SELECT shard, bucket, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc,
           md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5
    FROM placed
    GROUP BY shard, bucket, seq_id
"""

ORACLES["t34_url_trap_stats"] = """
    WITH urls AS (
        SELECT 'https://' || source || '.example.com'
               || CASE WHEN doc_id % 3 = 0
                       THEN '/cal/' || CAST(doc_id % 97 AS VARCHAR)
                            || '/day/' || CAST(doc_id % 31 AS VARCHAR)
                       ELSE '/p/' || md5(CAST(doc_id AS VARCHAR)) END AS url
        FROM documents
    ), feat AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               regexp_replace(
                   regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                   '[0-9]+', 'D', 'g') AS template
        FROM urls
    ), agg AS (
        SELECT host, template, count(*) AS n_urls
        FROM feat GROUP BY 1, 2
    )
    SELECT host, template, n_urls,
           round(n_urls / sum(n_urls) OVER (PARTITION BY host), 6)
               AS host_share,
           n_urls >= 5 AS is_trap
    FROM agg
"""

ORACLES["t35_domain_stats"] = """
    WITH docs2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 20 < 10 AND doc_id % 3 = 0
                    THEN 'mirror boilerplate page for ' || source
                    ELSE text END AS text
        FROM documents
    ), base AS (
        SELECT source AS stratum,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
               len(string_split(text, ' ')) AS n_tok,
               round(least(CAST(len(string_split(text, ' ')) AS double)
                           / 100.0, 1.0) * 0.6
                     + (1.0 - least(
                           CAST(length(regexp_replace(
                               text, '[^.,;:!?]', '', 'g')) AS double)
                           / length(text) * 10.0, 1.0)) * 0.4, 4) AS q
        FROM docs2
    ), fpc AS (
        SELECT fp, count(*) AS n_fp FROM base GROUP BY 1
    ), per AS (
        SELECT stratum, count(*) AS n_docs,
               CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
               round(avg(n_tok), 6) AS mean_tokens,
               round(avg(q), 6) AS mean_quality
        FROM base JOIN fpc USING (fp) GROUP BY 1
    )
    SELECT stratum, n_docs, n_dup_docs,
           round(n_dup_docs / n_docs, 6) AS dup_rate,
           mean_tokens, mean_quality,
           (round(n_dup_docs / n_docs, 6) <= 0.2
            AND mean_quality >= 0.5) AS keep
    FROM per
"""

ORACLES["t36_resolve_redirects"] = """
    WITH RECURSIVE m AS (
        SELECT src, min(dst) AS dst FROM (
            SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                   'u' || CAST(doc_id + 1 AS VARCHAR) AS dst
            FROM documents WHERE doc_id % 12 <> 11
            UNION ALL
            SELECT 'u' || CAST(doc_id AS VARCHAR),
                   'u' || CAST(doc_id + 2 AS VARCHAR)
            FROM documents WHERE doc_id % 50 = 0
        ) GROUP BY 1
    ), walk AS (
        SELECT src, dst AS cur, 1 AS n_hops FROM m
        UNION ALL
        SELECT w.src, m.dst, w.n_hops + 1
        FROM walk w JOIN m ON w.cur = m.src
        WHERE w.n_hops < 8
    ), fin AS (
        SELECT src, cur, n_hops,
               row_number() OVER (PARTITION BY src ORDER BY n_hops DESC)
                   AS rn
        FROM walk
    )
    SELECT f.src, f.cur AS final_url, CAST(f.n_hops AS INT) AS n_hops,
           (m2.src IS NULL) AS resolved
    FROM fin f LEFT JOIN m m2 ON f.cur = m2.src
    WHERE f.rn = 1
"""

ORACLES["t37_revisit_schedule"] = """
    WITH hist AS (
        SELECT 'u' || CAST(doc_id % 100 AS VARCHAR) AS url,
               CAST(floor(doc_id / 100) AS BIGINT) AS round,
               CASE
                   WHEN (doc_id % 100) % 3 = 0 THEN
                       'c' || CAST(CAST(floor(doc_id / 100) AS BIGINT)
                                   AS VARCHAR)
                   WHEN (doc_id % 100) % 3 = 1 THEN 's'
                   ELSE 'h' || CAST(CAST(floor(floor(doc_id / 100) / 2)
                                         AS BIGINT) AS VARCHAR)
               END AS fingerprint
        FROM documents
    ), steps AS (
        SELECT url, round, fingerprint,
               lag(fingerprint) OVER (PARTITION BY url ORDER BY round)
                   AS pfp
        FROM hist
    ), per AS (
        SELECT url, count(*) AS n_fetches,
               CAST(sum(CASE WHEN pfp IS NOT NULL AND fingerprint <> pfp
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
               max(round) AS last_round
        FROM steps GROUP BY 1
    ), iv AS (
        SELECT *,
               CASE WHEN n_fetches <= 1 THEN 1
                    WHEN n_changes = 0 THEN
                        least(8, CAST(power(2.0, n_fetches - 1) AS BIGINT))
                    ELSE greatest(1, least(8, CAST(ceil(
                        1.0 / (n_changes / (n_fetches - 1.0)))
                        AS BIGINT)))
               END AS nxt
        FROM per
    )
    SELECT url, n_fetches, n_changes,
           round(CASE WHEN n_fetches > 1
                      THEN n_changes / (n_fetches - 1.0) END, 6)
               AS change_rate,
           last_round,
           CAST(nxt AS INT) AS next_interval,
           last_round + nxt AS next_round
    FROM iv
"""

ORACLES["t38_host_link_graph"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               '<a href="https://src' || CAST((doc_id + 1) % 20 AS VARCHAR)
                   || '.example.com/a">x</a><a href="//src'
                   || CAST((doc_id * 7) % 20 AS VARCHAR)
                   || '.example.com/b">y</a><a href="/nav">z</a>' AS html
        FROM documents
    ), ex AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS src_host,
               unnest(regexp_extract_all(html, 'href="([^"]+)"', 1))
                   AS href
        FROM pages
    ), e AS (
        SELECT src_host,
               CASE WHEN regexp_matches(href, '^https?://')
                        THEN regexp_extract(href,
                                            '^https?://([^/?#]+)', 1)
                    WHEN href LIKE '//%'
                        THEN regexp_extract(href, '^//([^/?#]+)', 1)
                    ELSE src_host END AS dst_host
        FROM ex
    )
    SELECT src_host, dst_host, count(*) AS n_links
    FROM e WHERE src_host <> dst_host
    GROUP BY 1, 2
"""

ORACLES["t39_sitemap_discovery"] = """
    WITH pages AS (
        SELECT CASE WHEN doc_id < 20
                    THEN 'https://' || source || '.example.com/robots.txt'
                    ELSE 'https://' || source || '.example.com/d/'
                         || CAST(doc_id AS VARCHAR) END AS url,
               CASE WHEN doc_id < 20
                    THEN 'User-agent: *' || chr(10)
                         || 'Disallow: /private' || chr(10)
                         || 'Sitemap: https://' || source
                         || '.example.com/sitemap.xml' || chr(10)
                         || 'sitemap: https://' || source
                         || '.example.com/news.xml'
                    ELSE 'Sitemap: https://decoy.example.com/s.xml'
               END AS text
        FROM documents
    ), r AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               unnest(regexp_extract_all(text,
                   '(?i)sitemap:[ \\t]*([^ \\t\\r\\n]+)', 1)) AS sitemap_url
        FROM pages
        WHERE regexp_matches(url, '^https?://[^/]+/robots\\.txt$')
    )
    SELECT DISTINCT host, sitemap_url FROM r
"""

ORACLES["t40_cdx_index"] = """
    WITH pages AS (
        SELECT 'https://WWW.' || source || '.Example.COM'
               || CASE WHEN doc_id % 9 = 0 THEN ''
                       ELSE '/d/' || CAST(doc_id AS VARCHAR) END
               || CASE WHEN doc_id % 4 = 0
                       THEN '?q=' || CAST(doc_id % 7 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url,
               TIMESTAMP '2024-01-01 00:00:00'
                   + doc_id * INTERVAL 1 SECOND AS warc_ts,
               text AS content
        FROM documents
    ), k AS (
        SELECT regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
               regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS path,
               url, warc_ts, content
        FROM pages
    )
    SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
               || ')'
               || CASE WHEN path = '' THEN '/' ELSE path END AS surt_key,
           strftime(warc_ts, '%Y%m%d%H%M%S') AS ts,
           url,
           md5(content) AS digest,
           CAST(strlen(content) AS BIGINT) AS length
    FROM k
"""

ORACLES["t41_anchor_text"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/p/'
                   || CAST(doc_id AS VARCHAR) AS url,
               '<a href="https://hub.example.com/t/'
                   || CAST(doc_id % 10 AS VARCHAR) || '">Topic '
                   || CAST(doc_id % 10 AS VARCHAR) || '</a>'
               || '<a href="//cdn' || CAST(doc_id % 3 AS VARCHAR)
                   || '.example.com/x">cdn asset</a>'
               || '<a href="/about">About Us</a>'
               || '<a href="https://hub.example.com/top">'
                   || CASE WHEN doc_id % 3 < 2 THEN 'AAA' ELSE 'BBB' END
                   || '</a>'
               || '<a href="https://hub.example.com/tie">'
                   || CASE WHEN doc_id % 2 = 0
                           THEN 'tie-b' ELSE 'tie-a' END || '</a>'
               || '<a href="#top">skip-frag</a>'
               || '<a href="rel/path">skip-rel</a>'
               || '<a href="https://hub.example.com/t/1"></a>' AS html
        FROM documents
    ), ex AS (
        SELECT regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS src_host,
               unnest(regexp_extract_all(html,
                   '<a href="[^"]+"[^>]*>[^<]*</a>', 0)) AS a
        FROM pages
    ), p AS (
        SELECT src_host,
               regexp_extract(a, 'href="([^"]+)"', 1) AS href,
               trim(regexp_extract(a, '>([^<]*)</a>', 1)) AS text
        FROM ex
    ), resolved AS (
        SELECT CASE
                   WHEN regexp_matches(href, '^https?://') THEN href
                   WHEN href LIKE '//%' THEN 'https:' || href
                   WHEN href LIKE '/%' THEN 'https://' || src_host || href
               END AS dst_url,
               text
        FROM p
        WHERE text <> ''
    ), counted AS (
        SELECT dst_url, text, COUNT(*) AS n
        FROM resolved WHERE dst_url IS NOT NULL
        GROUP BY 1, 2
    ), ranked AS (
        SELECT dst_url, text, n,
               row_number() OVER (PARTITION BY dst_url
                                  ORDER BY n DESC, text ASC) AS rk
        FROM counted
    )
    SELECT c.dst_url,
           CAST(SUM(c.n) AS BIGINT) AS n_anchors,
           CAST(COUNT(*) AS BIGINT) AS n_texts,
           MAX(r.text) AS top_text
    FROM counted c
    JOIN ranked r ON r.dst_url = c.dst_url AND r.rk = 1
    GROUP BY c.dst_url
"""

ORACLES["t42_crawl_delta"] = """
    WITH hist AS (
        SELECT 'https://ex.com/u/' || CAST(doc_id // 2 AS VARCHAR) AS url,
               CAST(doc_id % 2 AS INT) AS round,
               CASE WHEN (doc_id // 2) % 3 = 0 THEN 'same'
                    ELSE CAST(doc_id AS VARCHAR) END AS fingerprint
        FROM documents
        WHERE NOT (doc_id % 10 = 2 AND doc_id % 2 = 0)
          AND NOT (doc_id % 10 = 5 AND doc_id % 2 = 1)
    ), g AS (
        SELECT url,
               MAX(CASE WHEN round = 0 THEN fingerprint END) AS fp_a,
               MAX(CASE WHEN round = 1 THEN fingerprint END) AS fp_b
        FROM hist
        GROUP BY url
    )
    SELECT url,
           CASE WHEN fp_a IS NULL THEN 'added'
                WHEN fp_b IS NULL THEN 'removed'
                WHEN fp_a <> fp_b THEN 'changed'
                ELSE 'unchanged' END AS status,
           fp_a, fp_b
    FROM g
"""

ORACLES["t43_host_boilerplate"] = """
    WITH pages AS (
        SELECT doc_id, source AS host,
               'NAV ' || source
               || CASE WHEN (doc_id // 20) % 2 = 0
                       THEN chr(10) || 'HALF ' || source ELSE '' END
               || CASE WHEN (doc_id // 20) % 3 = 0
                       THEN chr(10) || 'THIRD ' || source ELSE '' END
               || chr(10) || 'only ' || CAST(doc_id AS VARCHAR) AS text
        FROM documents
    ), ls AS (
        SELECT doc_id, host, string_split(text, chr(10)) AS ts FROM pages
    ), lines AS (
        SELECT doc_id, host, i AS pos, ts[i] AS line,
               len(trim(ts[i])) >= 1 AS eligible
        FROM ls, unnest(range(1, len(ts) + 1)) AS t(i)
    ), dfreq AS (
        SELECT host, line, count(DISTINCT doc_id) AS n_docs_with_line
        FROM lines WHERE eligible GROUP BY 1, 2
    ), hosts AS (
        SELECT host, count(*) AS n_host_docs FROM pages GROUP BY 1
    ), boiler AS (
        SELECT dfreq.host, dfreq.line
        FROM dfreq JOIN hosts USING (host)
        WHERE n_docs_with_line >= 2
          AND n_docs_with_line >= 0.5 * n_host_docs
    ), kept AS (
        SELECT l.doc_id, l.pos, l.line,
               ((NOT l.eligible) OR b.line IS NULL) AS keep
        FROM lines l
        LEFT JOIN boiler b ON b.host = l.host AND b.line = l.line
    )
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE keep), '') AS text_cleaned,
           count(*) FILTER (WHERE keep) AS n_lines_kept,
           count(*) FILTER (WHERE NOT keep) AS n_lines_dropped
    FROM kept GROUP BY doc_id
"""

ORACLES["t44_page_metadata"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/m/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CASE doc_id % 4
                   WHEN 0 THEN '<html><head><title>  Doc '
                       || CAST(doc_id AS VARCHAR)
                       || ' </title><meta charset="UTF-8">'
                       || '<meta name="description" content="summary of doc '
                       || CAST(doc_id AS VARCHAR)
                       || '"></head><body>x</body></html>'
                   WHEN 1 THEN '<head><TITLE>upper '
                       || CAST(doc_id AS VARCHAR)
                       || '</TITLE><meta http-equiv="Content-Type" '
                       || 'content="text/html; charset=ISO-8859-1"></head>'
                   WHEN 2 THEN '<meta name="description" content="only desc '
                       || CAST(doc_id AS VARCHAR) || '"><p>body</p>'
                   ELSE '<body>bare page</body>'
               END AS html
        FROM documents
    ), x AS (
        SELECT url,
               trim(regexp_extract(html,
                    '(?is)<title[^>]*>([^<]*)</title>', 1)) AS title_raw,
               trim(regexp_extract(html,
                    '(?i)<meta name="description" content="([^"]*)"', 1))
                   AS desc_raw,
               regexp_extract(html,
                    '(?i)<meta charset="?([A-Za-z0-9_\\-]+)', 1) AS meta_cs,
               regexp_extract(html,
                    '(?i)charset=([A-Za-z0-9_\\-]+)', 1) AS equiv_cs,
               strlen(html) AS nb
        FROM pages
    )
    SELECT url,
           nullif(title_raw, '') AS title,
           nullif(desc_raw, '') AS meta_description,
           lower(CASE WHEN meta_cs <> '' THEN meta_cs
                      WHEN equiv_cs <> '' THEN equiv_cs END) AS charset,
           CAST(nb AS BIGINT) AS n_bytes
    FROM x
"""

ORACLES["t45_outlink_stats"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/p/'
                   || CAST(doc_id AS VARCHAR) AS url,
               source || '.example.com' AS src_host,
               '<a href="https://hub.example.com/t/'
                   || CAST(doc_id % 10 AS VARCHAR) || '">Topic</a>'
               || '<a href="//cdn' || CAST(doc_id % 3 AS VARCHAR)
                   || '.example.com/x">cdn</a>'
               || '<a href="/about">About</a>'
               || '<a href="https://hub.example.com/top">v</a>'
               || '<a href="https://hub.example.com/tie">t</a>'
               || '<a href="#top">f</a>'
               || '<a href="rel/path">r</a>'
               || '<a href="https://' || source
                   || '.example.com/self">s</a>' AS html
        FROM documents
    ), x AS (
        SELECT url,
               regexp_extract_all(html, 'href="([^"]+)"', 1) AS hrefs,
               src_host
        FROM pages
    ), c AS (
        SELECT url,
               len(hrefs) AS n_links,
               len(list_filter(hrefs, h ->
                   CASE
                       WHEN regexp_matches(h, '^https?://')
                           THEN regexp_extract(h,
                                '^https?://([^/?#]+)', 1) <> src_host
                       WHEN h LIKE '//%'
                           THEN regexp_extract(h, '^//([^/?#]+)', 1)
                                <> src_host
                       ELSE FALSE
                   END)) AS n_external
        FROM x
    )
    SELECT url,
           CAST(n_links AS BIGINT) AS n_links,
           CAST(n_external AS BIGINT) AS n_external,
           CASE WHEN n_links > 0
                THEN round(n_external * 1.0 / n_links, 6) END
               AS external_ratio
    FROM c
"""

ORACLES["t46_politeness_report"] = """
    WITH log AS (
        SELECT source AS host,
               CASE WHEN source = 'src0' THEN 0
                    ELSE CAST((doc_id // 20) % 5 AS INT) END AS round
        FROM documents
    ), per_round AS (
        SELECT host, round, count(*) AS n FROM log GROUP BY 1, 2
    )
    SELECT host,
           count(*) AS n_rounds,
           CAST(sum(n) AS BIGINT) AS total_fetches,
           CAST(max(n) AS BIGINT) AS max_round_fetches,
           5 AS budget,
           max(n) <= 5 AS compliant
    FROM per_round GROUP BY host
"""

ORACLES["t47_exactsubstr_removal"] = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), wins AS (
        SELECT doc_id, i - 1 AS pos,
               md5(CASE WHEN len(ts) >= 8
                        THEN array_to_string(ts[i:i+7], ' ')
                        ELSE array_to_string(ts, ' ') END) AS win_hash
        FROM toks, unnest(range(1, greatest(len(ts) - 7, 1) + 1)) AS t(i)
    ), dup AS (
        SELECT win_hash
        FROM (SELECT DISTINCT win_hash, doc_id FROM wins)
        GROUP BY win_hash HAVING count(*) >= 2
    ), starts AS (
        SELECT DISTINCT w.doc_id, w.pos FROM wins w JOIN dup USING (win_hash)
    ), tok AS (
        SELECT doc_id, unnest(ts) AS tok,
               generate_subscripts(ts, 1) - 1 AS tpos
        FROM toks
    ), kept AS (
        SELECT t.doc_id, t.tok, t.tpos FROM tok t
        WHERE NOT EXISTS (
            SELECT 1 FROM starts s
            WHERE s.doc_id = t.doc_id
              AND s.pos <= t.tpos AND t.tpos < s.pos + 8)
    ), affected AS (
        SELECT DISTINCT doc_id FROM starts
    )
    SELECT d.doc_id,
           CAST(len(d.ts) AS BIGINT) AS n_tokens,
           CAST(len(d.ts) - count(k.tok) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.tpos), '') AS clean_text
    FROM toks d
    JOIN affected USING (doc_id)
    LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.doc_id, len(d.ts)
"""

ORACLES["t48_revisit_records"] = """
    WITH caps AS (
        SELECT 'https://' || source || '.example.com/p/'
                   || CAST(doc_id AS VARCHAR) AS url,
               strftime(TIMESTAMP '2024-01-01 00:00:00'
                        + doc_id * INTERVAL 1 SECOND,
                        '%Y%m%d%H%M%S') AS ts,
               md5('body-' || CAST(doc_id % 25 AS VARCHAR)) AS digest,
               CAST(strlen('body-' || CAST(doc_id % 25 AS VARCHAR))
                    AS BIGINT) AS bytes_saved
        FROM documents
    ), firsts AS (
        -- ts is unique per capture (1s per doc_id), so min(ts) IS the
        -- struct-min's ts and min_by(url, ts) its url (no tie possible)
        SELECT digest, min(ts) AS orig_ts, min_by(url, ts) AS orig_url
        FROM caps GROUP BY digest
    )
    SELECT c.url, c.ts, c.digest, f.orig_url, f.orig_ts, c.bytes_saved
    FROM caps c JOIN firsts f USING (digest)
    WHERE c.ts <> f.orig_ts OR c.url <> f.orig_url
"""

ORACLES["t49_cluster_keeper"] = (
    "WITH RECURSIVE "
    + _SHINGLES.strip().removeprefix("WITH")
    + _T04_PAIRS_BODY
    + _closure_sql("SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2")
    + """
    , qual AS (
        SELECT doc_id,
               round(least(CAST(len(string_split(text, ' ')) AS double) / 100.0, 1.0) * 0.6
                     + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                                    / length(text) * 10.0, 1.0)) * 0.4, 4) AS quality
        FROM documents
    )
    , mm AS (
        SELECT c.doc_id, c.cluster_id, q.quality
        FROM cc_labels c JOIN qual q USING (doc_id)
    )
    , ranked AS (
        SELECT mm.*,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality DESC, doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM mm
    )
    , keep AS (
        SELECT cluster_id, doc_id AS keeper_doc_id,
               quality AS keeper_quality
        FROM ranked WHERE rn = 1
    )
    SELECT r.doc_id, r.cluster_id, r.quality, k.keeper_doc_id,
           k.keeper_quality, CAST(r.n_members AS BIGINT) AS n_members
    FROM ranked r JOIN keep k USING (cluster_id)
    WHERE r.doc_id <> k.keeper_doc_id
"""
)

ORACLES["t50_mixture_plan"] = """
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), t AS (
        SELECT source, n_docs,
               (CAST(substr(source, 4, 10) AS DOUBLE) + 1.0) / 15.0 AS share
        FROM counts
    ), tm AS (
        SELECT min(n_docs / share) AS total_max FROM t
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, share,
           round(total_max, 6) AS total_max,
           CAST(least(floor(share * total_max), n_docs) AS BIGINT) AS quota,
           round(CAST(least(floor(share * total_max), n_docs) AS BIGINT)
                 / n_docs, 6) AS rate
    FROM t, tm
"""

def _incremental_minhash_oracle() -> str:
    """SQL twin of t51: the SAME md5-derived universal hashes
    (minhash_params(8)), the SAME 4-band x 2-row LSH join restricted to
    new-vs-(history | lower-id-new), the SAME component-match estimated
    Jaccard and max-est/min-id witness pick — LSH's probabilistic misses
    reproduced exactly, like the t25 oracle."""
    from .dedup import _P, minhash_params

    params = minhash_params(8)
    x = "(try_cast('0x' || substr(md5(shingle), 1, 8) AS bigint) % 2147483647)"
    hcols = ", ".join(
        f"min(({a} * {x} + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(params)
    )
    bandcond = " OR ".join(
        f"(n.h{2 * b} = o.h{2 * b} AND n.h{2 * b + 1} = o.h{2 * b + 1})"
        for b in range(4)
    )
    est = (
        "("
        + " + ".join(f"CAST(n.h{i} = o.h{i} AS int)" for i in range(8))
        + ") / 8.0"
    )
    return (
        "WITH "
        + _SHINGLES.strip().removeprefix("WITH")
        + f""", sigs AS (SELECT doc_id, {hcols} FROM sh GROUP BY doc_id),
        scored AS (
            SELECT n.doc_id AS removed_doc_id, o.doc_id AS witness_id,
                   (o.doc_id % 2 = 0) AS vs_history,
                   round({est}, 6) AS est_jaccard
            FROM sigs n JOIN sigs o
              ON ((o.doc_id % 2 = 0) OR o.doc_id < n.doc_id)
             AND ({bandcond})
            WHERE n.doc_id % 2 = 1
        ), best AS (
            SELECT *, row_number() OVER (
                PARTITION BY removed_doc_id
                ORDER BY est_jaccard DESC, witness_id ASC) AS rn
            FROM scored WHERE est_jaccard >= 0.25
        )
        SELECT removed_doc_id, witness_id, est_jaccard, vs_history
        FROM best WHERE rn = 1
        """
    )


ORACLES["t51_incremental_minhash"] = _incremental_minhash_oracle()

ORACLES["t52_sitemap_entries"] = """
    WITH pages AS (
        SELECT CASE WHEN doc_id < 20
                    THEN 'https://' || source || '.example.com/sitemap.xml'
                    ELSE 'https://' || source || '.example.com/d/'
                         || CAST(doc_id AS VARCHAR) END AS url,
               CASE WHEN doc_id < 20
                    THEN '<?xml version="1.0"?><urlset><url><loc>https://'
                         || source || '.example.com/p/'
                         || CAST(doc_id AS VARCHAR)
                         || '</loc></url><url><LOC>  https://' || source
                         || '.example.com/p/' || CAST(doc_id + 1000 AS VARCHAR)
                         || ' </LOC></url><sitemap><loc>https://' || source
                         || '.example.com/sitemap2.xml</loc></sitemap></urlset>'
                    ELSE '<url><loc>https://decoy.example.com/x</loc></url>'
               END AS text
        FROM documents
    ), r AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               url AS sitemap_url,
               unnest(regexp_extract_all(text,
                   '(?i)<loc>[ \\t\\r\\n]*([^< \\t\\r\\n]+)[ \\t\\r\\n]*</loc>',
                   1)) AS loc
        FROM pages
        WHERE regexp_matches(url,
                  '^https?://[^/]+[^?#]*sitemap[^/?#]*\\.xml$')
    )
    SELECT DISTINCT host, sitemap_url, loc FROM r
"""

ORACLES["t53_host_skew"] = """
    WITH urls AS (
        SELECT 'https://'
               || CASE WHEN doc_id % 5 < 2 THEN 'big.example.com'
                       ELSE source || '.example.com' END
               || '/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ), h AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host
        FROM urls
    ), ph AS (
        SELECT (try_cast('0x' || substr(md5(host), 1, 8) AS bigint) % 16)
                   AS bucket,
               host, count(*) AS n
        FROM h GROUP BY 1, 2
    ), agg AS (
        SELECT bucket, CAST(sum(n) AS BIGINT) AS n_urls,
               count(*) AS n_hosts
        FROM ph GROUP BY bucket
    ), top AS (
        SELECT bucket, host, n, row_number() OVER (
                   PARTITION BY bucket ORDER BY n DESC, host ASC) AS rn
        FROM ph
    )
    SELECT a.bucket, a.n_urls, a.n_hosts, t.host AS top_host,
           t.n AS top_host_n,
           round(t.n / CAST(a.n_urls AS DOUBLE), 6) AS top_share,
           (t.n >= 100) AS needs_salt
    FROM agg a JOIN top t ON a.bucket = t.bucket AND t.rn = 1
"""

ORACLES["t54_shard_plan"] = """
    WITH sized AS (
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents
    ), c AS (
        SELECT doc_id, n_bytes,
               CAST(coalesce(sum(n_bytes) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_byte
        FROM sized
    )
    SELECT doc_id, n_bytes, start_byte,
           CAST(floor(start_byte / 65536.0) AS BIGINT) AS shard
    FROM c
"""


def _lsh_audit_oracle() -> str:
    """SQL twin of t55: the SAME md5-derived hashes (minhash_params(8)),
    the SAME 4-band x 2-row candidate join, the SAME component-match
    estimate, and the verify path's exact shingle Jaccard (uncapped
    inverted index) — pure band collisions coalesce to true_jaccard 0."""
    from .dedup import _P, minhash_params

    params = minhash_params(8)
    x = "(try_cast('0x' || substr(md5(shingle), 1, 8) AS bigint) % 2147483647)"
    hcols = ", ".join(
        f"min(({a} * {x} + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(params)
    )
    bandcond = " OR ".join(
        f"(a.h{2 * b} = b.h{2 * b} AND a.h{2 * b + 1} = b.h{2 * b + 1})"
        for b in range(4)
    )
    est = (
        "("
        + " + ".join(f"CAST(a.h{i} = b.h{i} AS int)" for i in range(8))
        + ") / 8.0"
    )
    return (
        "WITH "
        + _SHINGLES.strip().removeprefix("WITH")
        + f""", sigs AS (SELECT doc_id, {hcols} FROM sh GROUP BY doc_id),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round({est}, 6) AS est_jaccard
            FROM sigs a JOIN sigs b
              ON a.doc_id < b.doc_id AND ({bandcond})
        ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        tj AS (
            SELECT c.doc_a, c.doc_b,
                   round(CAST(count(*) AS double)
                         / (any_value(sa.n_sh) + any_value(sb.n_sh)
                            - count(*)), 6) AS true_jaccard
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            JOIN sizes sa ON sa.doc_id = c.doc_a
            JOIN sizes sb ON sb.doc_id = c.doc_b
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b, c.est_jaccard,
               coalesce(t.true_jaccard, 0.0) AS true_jaccard,
               round(abs(c.est_jaccard - coalesce(t.true_jaccard, 0.0)), 6)
                   AS abs_err
        FROM cand c
        LEFT JOIN tj t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        """
    )


ORACLES["t55_lsh_error_audit"] = _lsh_audit_oracle()

ORACLES["t56_bpe_pairs"] = """
    WITH words AS (
        SELECT word, count(*) AS freq FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents
        ) WHERE len(word) >= 2 GROUP BY word
    ), pairs AS (
        SELECT substr(word, i, 2) AS pair, freq
        FROM words, unnest(range(1, len(word))) AS t(i)
    ), counts AS (
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS int) AS rank
    FROM counts QUALIFY rank <= 20
"""

ORACLES["t57_latency_percentiles"] = """
    WITH log AS (
        SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
               value AS latency_ms
        FROM events
    ), r AS (
        SELECT host, latency_ms,
               row_number() OVER (
                   PARTITION BY host ORDER BY latency_ms ASC) AS rn,
               count(*) OVER (PARTITION BY host) AS n
        FROM log
    )
    SELECT host, CAST(max(n) AS BIGINT) AS n_fetches,
           max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN latency_ms END) AS p50,
           max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN latency_ms END) AS p95
    FROM r GROUP BY host
"""

ORACLES["t58_lm_perplexity"] = """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), w -> w != '') AS ts
        FROM documents
    ), bg AS (
        SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, unnest(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2
    ), c2 AS (
        SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
    ), c1 AS (
        SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
    ), voc AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest(ts) AS w FROM toks WHERE len(ts) >= 2)
    ), scored AS (
        SELECT b.doc_id, b.lang,
               CAST(round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * voc.v)) * 1e6, 0)
                    AS BIGINT) AS lp
        FROM bg b
        JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        CROSS JOIN voc
    ), per AS (
        SELECT doc_id, any_value(lang) AS lang,
               CAST(sum(lp) AS BIGINT) AS s, count(*) AS n_bigrams
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, lang, n_bigrams,
           round(exp(-CAST(s AS DOUBLE) / (n_bigrams * 1e6)), 4) AS ppl,
           CAST(ntile(3) OVER (
               PARTITION BY lang
               ORDER BY round(exp(-CAST(s AS DOUBLE) / (n_bigrams * 1e6)), 4)
                        ASC, doc_id ASC) AS int) AS bucket
    FROM per
"""

_T59_SQL = """
    WITH tgt_toks AS (
        SELECT list_filter(string_split(lower(text), ' '), w -> w != '') AS ts
        FROM documents WHERE source IN ('src0', 'src1')
    ), raw_toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w != '') AS ts
        FROM documents WHERE source NOT IN ('src0', 'src1')
    ), tgt_h AS (
        SELECT md5('dsir:' || ts[i] || ' ' || ts[i+1]) AS h
        FROM tgt_toks, unnest(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2
    ), raw_h AS (
        SELECT doc_id, md5('dsir:' || ts[i] || ' ' || ts[i+1]) AS h
        FROM raw_toks, unnest(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2
    ), tb AS (
        -- conv(md5[0:8],16,10) % 4096 == value of hex digits 6..8
        SELECT 256 * (strpos('0123456789abcdef', substr(h, 6, 1)) - 1)
             + 16 * (strpos('0123456789abcdef', substr(h, 7, 1)) - 1)
             + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS bucket
        FROM tgt_h
    ), rb AS (
        SELECT doc_id,
               256 * (strpos('0123456789abcdef', substr(h, 6, 1)) - 1)
             + 16 * (strpos('0123456789abcdef', substr(h, 7, 1)) - 1)
             + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS bucket
        FROM raw_h
    ), tc AS (
        SELECT bucket, count(*) AS c_t FROM tb GROUP BY 1
    ), rc AS (
        SELECT bucket, count(*) AS c_r FROM rb GROUP BY 1
    ), nt AS (
        SELECT coalesce(sum(c_t), 0) AS n_t FROM tc
    ), nr AS (
        SELECT sum(c_r) AS n_r FROM rc
    ), ratio AS (
        SELECT rc.bucket,
               CAST(round((ln((coalesce(tc.c_t, 0) + 0.5) / (nt.n_t + 0.5 * 4096))
                         - ln((rc.c_r + 0.5) / (nr.n_r + 0.5 * 4096))) * 1e6, 0)
                    AS BIGINT) AS lr
        FROM rc LEFT JOIN tc ON tc.bucket = rc.bucket
        CROSS JOIN nt CROSS JOIN nr
    )
    SELECT rb.doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(ratio.lr) AS BIGINT) AS log_w_micro
    FROM rb JOIN ratio ON ratio.bucket = rb.bucket
    GROUP BY rb.doc_id
"""

ORACLES["t59_dsir_weights"] = _T59_SQL

# Gumbel-top-k over the t59 weights: u = (conv(md5[0:4]) + 1)/65537 (the
# stratified_sample hex decode, +1 so u is never 0), key in integer
# micro-nats so the cut line compares longs on both engines.
ORACLES["t61_dsir_resample"] = f"""
    WITH t59 AS ({_T59_SQL}),
    keyed AS (
        SELECT doc_id, log_w_micro,
               log_w_micro + CAST(round(1.0 * (-ln(-ln(
                   (4096.0 * (strpos('0123456789abcdef',
                        substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    + 256.0 * (strpos('0123456789abcdef',
                        substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                    + 16.0 * (strpos('0123456789abcdef',
                        substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)
                    + (strpos('0123456789abcdef',
                        substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
                    + 1.0) / 65537.0))) * 1e6, 0) AS BIGINT) AS key_micro
        FROM t59
    )
    SELECT doc_id, log_w_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id ASC LIMIT 50
"""

ORACLES["t62_leakage_safe_split"] = (
    "WITH RECURSIVE "
    + _SHINGLES.strip().removeprefix("WITH")
    + _T04_PAIRS_BODY
    + _closure_sql("SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2")
    + """
    , assigned AS (
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc_labels l ON l.doc_id = d.doc_id
    ), hx AS (
        SELECT doc_id, cluster_id,
               md5('split:' || CAST(cluster_id AS VARCHAR)) AS h
        FROM assigned
    )
    SELECT doc_id, cluster_id,
           CASE WHEN (4096.0 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
                    + 256.0 * (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
                    + 16.0 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
                    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) / 65536.0
                     < 0.125
                THEN 'test' ELSE 'train' END AS split
    FROM hx
"""
)

ORACLES["t63_threshold_sweep"] = """
    WITH scored AS (
        SELECT round(least(CAST(len(string_split(text, ' ')) AS double) / 100.0, 1.0) * 0.6
                     + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                                    / length(text) * 10.0, 1.0)) * 0.4, 4) AS q,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ), hist AS (
        SELECT q, count(*) AS cnt, sum(toks) AS tok FROM scored GROUP BY q
    ), tot AS (
        SELECT sum(cnt) AS td, sum(tok) AS tt FROM hist
    ), grid AS (
        SELECT CAST(unnest([0.0, 0.3, 0.5, 0.7, 0.8, 0.9, 0.95]) AS DOUBLE)
               AS threshold
    )
    SELECT g.threshold,
           CAST(coalesce(sum(h.cnt), 0) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(h.tok), 0) AS BIGINT) AS n_tokens,
           round(CAST(coalesce(sum(h.cnt), 0) AS DOUBLE) / tot.td, 6) AS doc_share,
           round(CAST(coalesce(sum(h.tok), 0) AS DOUBLE) / tot.tt, 6) AS token_share
    FROM grid g LEFT JOIN hist h ON h.q >= g.threshold
    CROSS JOIN tot
    GROUP BY g.threshold, tot.td, tot.tt
"""

ORACLES["t64_vocab_coverage"] = """
    WITH toks AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w != '')) AS term
        FROM documents
    ), vocab AS (
        SELECT term, count(*) AS cnt FROM toks GROUP BY term
    ), ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk,
               sum(cnt) OVER (ORDER BY cnt DESC, term ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM vocab
    ), tot AS (
        SELECT sum(cnt) AS tt FROM vocab
    ), grid AS (
        SELECT unnest([10, 100, 1000, 10000]) AS k
    )
    SELECT g.k,
           CAST(coalesce(max(r.rnk), 0) AS BIGINT) AS n_terms,
           CAST(coalesce(max(r.cum), 0) AS BIGINT) AS covered_tokens,
           round(CAST(coalesce(max(r.cum), 0) AS DOUBLE) / tot.tt, 6) AS coverage
    FROM grid g LEFT JOIN ranked r ON r.rnk <= g.k
    CROSS JOIN tot
    GROUP BY g.k, tot.tt
"""

ORACLES["t60_crawl_budget"] = """
    WITH s AS (
        SELECT source || '.example.com' AS host,
               CAST(sum(n_chars) AS BIGINT) AS score
        FROM documents GROUP BY 1
    ), p AS (
        SELECT host, score FROM s WHERE score > 0
    ), tot AS (
        SELECT CAST(sum(score) AS DOUBLE) AS tot FROM p
    ), q AS (
        SELECT host, score,
               CAST(997 AS DOUBLE) * CAST(score AS DOUBLE) / tot.tot AS quota
        FROM p CROSS JOIN tot
    ), b AS (
        SELECT host, score,
               CAST(floor(quota) AS BIGINT) AS base,
               quota - floor(quota) AS rem
        FROM q
    ), l AS (
        SELECT 997 - sum(base) AS leftover FROM b
    ), r AS (
        SELECT host, score, base, rem,
               row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk
        FROM b
    )
    SELECT host, score, base,
           CAST(CASE WHEN rnk <= l.leftover THEN 1 ELSE 0 END AS INT) AS extra,
           CAST(base + CASE WHEN rnk <= l.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS budget
    FROM r CROSS JOIN l
"""

def _jl_oracle_sql(out_dim: int = 8, in_dim: int = 64, seed: str = "jl") -> str:
    """SQL twin of sim.jl_project built from the SAME Python-generated
    sign matrix and scale literal — both engines evaluate the identical
    left-associative expression tree."""
    import math

    signs = sim.jl_signs(out_dim, in_dim, seed)
    inv = 1.0 / math.sqrt(float(out_dim))
    comps = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * ({signs[j][i]}.0)"
            for i in range(in_dim)
        )
        comps.append(f"round(({terms}) * {inv!r}, 6)")
    return f"SELECT vec_id, [{', '.join(comps)}] AS proj FROM embeddings"


ORACLES["t65_jl_projection"] = _jl_oracle_sql()
ORACLES["t66_source_mirrors"] = """
    WITH inj AS (
        SELECT source,
               CASE WHEN doc_id % 7 = 0
                    THEN 'shared mirror boilerplate ' || CAST(doc_id % 3 AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    ), fps AS (
        SELECT DISTINCT source AS s,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        FROM inj
    )
    SELECT a.s AS source_a, b.s AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.s < b.s
    GROUP BY 1, 2
"""
ORACLES["t67_line_correction"] = """
    WITH inj AS (
        SELECT doc_id,
               text || chr(10) || '- injected bullet' || chr(10) ||
               'short one' || chr(10) || '7. another bullet line' ||
               chr(10) ||
               'This injected line has plenty of words to keep.' AS text
        FROM documents
    ), f AS (
        SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj
    ), k AS (
        SELECT doc_id, ls,
               list_filter(ls, l ->
                   len(string_split_regex(trim(l), ' +')) >= 3
                   AND NOT regexp_matches(trim(l),
                                          '^([-*\u2022]|[0-9]+[.)])\\s')
               ) AS kept
        FROM f
    )
    SELECT doc_id,
           md5(array_to_string(kept, chr(10))) AS text_md5,
           CAST(len(ls) AS INT) AS n_lines_in,
           CAST(len(kept) AS INT) AS n_lines_kept
    FROM k
"""
ORACLES["t68_doc_keywords"] = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w != '') AS ts
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
        GROUP BY 1, 2
    ), dft AS (
        SELECT term, count(*) AS df
        FROM (SELECT DISTINCT doc_id, unnest(ts) AS term FROM toks)
        GROUP BY 1
    ), nd AS (
        SELECT count(*) AS n FROM documents
    ), idf AS (
        SELECT term,
               CAST(round(ln(CAST(nd.n AS DOUBLE) / dft.df) * 1e6, 0)
                    AS BIGINT) AS idf_micro
        FROM dft CROSS JOIN nd
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * idf.idf_micro AS score_micro
        FROM tf JOIN idf ON idf.term = tf.term
    )
    SELECT doc_id, term, tf, score_micro,
           CAST(row_number() OVER (
               PARTITION BY doc_id
               ORDER BY score_micro DESC, term ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
"""
ORACLES["t69_nb_lang_id"] = """
    WITH base AS (
        SELECT doc_id, lang, lower(text) AS t
        FROM documents WHERE length(lower(text)) >= 3
    ), trigs AS (
        SELECT doc_id, lang, substr(t, i, 3) AS trig
        FROM base, unnest(range(1, length(t) - 1)) AS r(i)
    ), ct AS (
        SELECT lang, trig, CAST(count(*) AS BIGINT) AS c
        FROM trigs GROUP BY 1, 2
    ), nl AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM ct GROUP BY 1
    ), voc AS (
        SELECT count(DISTINCT trig) AS v FROM ct
    ), lp AS (
        SELECT ct.lang AS cand, ct.trig,
               CAST(round(ln((ct.c + 0.5) / (nl.n_l + 0.5 * voc.v)) * 1e6, 0)
                    AS BIGINT) AS lp_micro
        FROM ct JOIN nl ON nl.lang = ct.lang CROSS JOIN voc
    ), lp0 AS (
        SELECT nl.lang AS cand,
               CAST(round(ln(0.5 / (nl.n_l + 0.5 * voc.v)) * 1e6, 0)
                    AS BIGINT) AS lp0_micro
        FROM nl CROSS JOIN voc
    ), nd AS (
        SELECT count(*) AS nd FROM base
    ), prior AS (
        SELECT lang AS cand,
               CAST(round(ln(CAST(count(*) AS DOUBLE) / nd.nd) * 1e6, 0)
                    AS BIGINT) AS prior_micro
        FROM base CROSS JOIN nd GROUP BY lang, nd.nd
    ), dt AS (
        SELECT doc_id, lang, trig, CAST(count(*) AS BIGINT) AS tf
        FROM trigs GROUP BY 1, 2, 3
    ), scored AS (
        SELECT dt.doc_id, dt.lang, p.cand,
               CAST(p.prior_micro
                    + sum(dt.tf * coalesce(lp.lp_micro, lp0.lp0_micro))
                    AS BIGINT) AS score
        FROM dt CROSS JOIN prior p
        LEFT JOIN lp ON lp.cand = p.cand AND lp.trig = dt.trig
        JOIN lp0 ON lp0.cand = p.cand
        GROUP BY dt.doc_id, dt.lang, p.cand, p.prior_micro
    )
    SELECT doc_id, lang, cand AS predicted, score AS score_micro
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
        FROM scored
    ) WHERE rn = 1
"""
ORACLES["t70_nb_heldout_eval"] = """
    WITH hx AS (
        SELECT doc_id, lang, lower(text) AS t,
               (4096.0 * (strpos('0123456789abcdef',
                    substr(md5('nbsplit:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                + 256.0 * (strpos('0123456789abcdef',
                    substr(md5('nbsplit:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                + 16.0 * (strpos('0123456789abcdef',
                    substr(md5('nbsplit:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)
                + (strpos('0123456789abcdef',
                    substr(md5('nbsplit:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1))
               / 65536.0 AS u
        FROM documents
        WHERE length(lower(text)) >= 3
    ), tb AS (
        SELECT doc_id, lang, t FROM hx WHERE u >= 0.25
    ), base AS (
        SELECT doc_id, lang, t FROM hx WHERE u < 0.25
    ), mtrigs AS (
        SELECT doc_id, lang, substr(t, i, 3) AS trig
        FROM tb, unnest(range(1, length(t) - 1)) AS r(i)
    ), ct AS (
        SELECT lang, trig, CAST(count(*) AS BIGINT) AS c
        FROM mtrigs GROUP BY 1, 2
    ), nl AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM ct GROUP BY 1
    ), voc AS (
        SELECT count(DISTINCT trig) AS v FROM ct
    ), lp AS (
        SELECT ct.lang AS cand, ct.trig,
               CAST(round(ln((ct.c + 0.5) / (nl.n_l + 0.5 * voc.v)) * 1e6, 0)
                    AS BIGINT) AS lp_micro
        FROM ct JOIN nl ON nl.lang = ct.lang CROSS JOIN voc
    ), lp0 AS (
        SELECT nl.lang AS cand,
               CAST(round(ln(0.5 / (nl.n_l + 0.5 * voc.v)) * 1e6, 0)
                    AS BIGINT) AS lp0_micro
        FROM nl CROSS JOIN voc
    ), nd AS (
        SELECT count(*) AS nd FROM tb
    ), prior AS (
        SELECT lang AS cand,
               CAST(round(ln(CAST(count(*) AS DOUBLE) / nd.nd) * 1e6, 0)
                    AS BIGINT) AS prior_micro
        FROM tb CROSS JOIN nd GROUP BY lang, nd.nd
    ), trigs AS (
        SELECT doc_id, lang, substr(t, i, 3) AS trig
        FROM base, unnest(range(1, length(t) - 1)) AS r(i)
    ), dt AS (
        SELECT doc_id, lang, trig, CAST(count(*) AS BIGINT) AS tf
        FROM trigs GROUP BY 1, 2, 3
    ), scored AS (
        SELECT dt.doc_id, dt.lang, p.cand,
               CAST(p.prior_micro
                    + sum(dt.tf * coalesce(lp.lp_micro, lp0.lp0_micro))
                    AS BIGINT) AS score
        FROM dt CROSS JOIN prior p
        LEFT JOIN lp ON lp.cand = p.cand AND lp.trig = dt.trig
        JOIN lp0 ON lp0.cand = p.cand
        GROUP BY dt.doc_id, dt.lang, p.cand, p.prior_micro
    ), preds AS (
        SELECT doc_id, lang, cand AS predicted
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS accuracy
    FROM preds GROUP BY lang
"""

ORACLES["t71_canonical_links"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CASE
                 WHEN doc_id % 4 = 0 THEN
                   '<p>x</p><link rel="canonical" href="https://' || source
                   || '.example.com/d/'
                   || CAST(doc_id - doc_id % 10 AS VARCHAR) || '">'
                 WHEN doc_id % 4 = 1 THEN
                   '<link rel="canonical" href="/d/'
                   || CAST(doc_id + 1 AS VARCHAR) || '">'
                 WHEN doc_id % 4 = 2 THEN
                   '<link href="https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) || '" rel="canonical">'
                 ELSE
                   '<link rel="canonical" href="c'
                   || CAST(doc_id % 5 AS VARCHAR) || '.html">'
               END AS html
        FROM documents
    ), ex AS (
        SELECT url,
               nullif(coalesce(
                   nullif(regexp_extract(html,
                       '<link[^>]*rel="canonical"[^>]*href="([^"]+)"', 1),
                       ''),
                   nullif(regexp_extract(html,
                       '<link[^>]*href="([^"]+)"[^>]*rel="canonical"', 1),
                       '')), '') AS href,
               regexp_extract(url, '^([a-z][a-z0-9+.-]*):', 1) AS scheme,
               regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*://[^/?#]+)', 1) AS origin,
               regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*://[^?#]*/)', 1) AS dirpfx
        FROM pages
    ), res AS (
        SELECT url,
               CASE
                 WHEN regexp_matches(href, '^https?://') THEN href
                 WHEN href LIKE '//%' THEN scheme || ':' || href
                 WHEN href LIKE '/%' THEN origin || href
                 ELSE coalesce(nullif(dirpfx, ''), origin || '/') || href
               END AS canonical_url
        FROM ex WHERE href IS NOT NULL
    )
    SELECT r.url, r.canonical_url,
           r.canonical_url = r.url AS is_self,
           m.url IS NOT NULL AS target_in_corpus
    FROM res r
    LEFT JOIN (SELECT DISTINCT url FROM pages) m
      ON m.url = r.canonical_url
"""

ORACLES["t72_soft404"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CASE WHEN doc_id % 37 = 0 THEN 'page not found'
                    WHEN doc_id % 41 = 0 THEN text || ' page not found'
                    ELSE text END AS text
        FROM documents
    ), base AS (
        SELECT url,
               regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               regexp_matches(lower(text),
                   'page not found|404 not found|error 404|does not exist|no longer available'
               ) AS marker_hit
        FROM pages
    ), means AS (
        SELECT host, avg(CAST(n_tokens AS DOUBLE)) AS m
        FROM base GROUP BY host
    )
    SELECT b.url, b.host, b.n_tokens,
           round(m.m, 6) AS host_mean_tokens,
           b.marker_hit,
           (b.marker_hit AND CAST(b.n_tokens AS DOUBLE) < 0.5 * m.m)
               AS is_soft404
    FROM base b JOIN means m USING (host)
"""

ORACLES["t73_nearest_capture"] = """
    WITH caps AS (
        SELECT 'u' || CAST(doc_id % 50 AS VARCHAR) AS url,
               CAST(doc_id AS BIGINT) AS cts
        FROM documents
    ), qs AS (
        SELECT CASE WHEN doc_id % 29 = 0 THEN 'missing'
                    ELSE 'u' || CAST(doc_id % 50 AS VARCHAR) END AS url,
               CAST((doc_id * 7) % 500 AS BIGINT) AS q_ts
        FROM documents WHERE doc_id < 150
    ), joined AS (
        SELECT q.url, q.q_ts, c.cts,
               abs(c.cts - q.q_ts) AS d,
               row_number() OVER (
                   PARTITION BY q.url, q.q_ts
                   ORDER BY abs(c.cts - q.q_ts), c.cts) AS rn
        FROM qs q JOIN caps c USING (url)
    )
    SELECT url, q_ts, cts AS capture_ts, d AS delta_seconds
    FROM joined WHERE rn = 1
"""

ORACLES["t74_cache_control"] = """
    WITH f AS (
        SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
               CAST(doc_id AS BIGINT) AS fetch_ts,
               CASE
                 WHEN doc_id % 5 = 0 THEN
                   'Cache-Control: public, max-age='
                   || CAST((doc_id * 997) % 2000000 AS VARCHAR)
                 WHEN doc_id % 5 = 1 THEN
                   'Cache-Control: no-store, max-age=500'
                 WHEN doc_id % 5 = 2 THEN
                   'content-type: text/html' || chr(13) || chr(10)
                   || 'cache-control: no-cache'
                 WHEN doc_id % 5 = 3 THEN 'Content-Type: text/html'
                 ELSE 'X-Cache-Control: max-age=5' || chr(13) || chr(10)
                   || 'Cache-Control: max-age=120'
               END AS headers
        FROM documents
    ), ex AS (
        SELECT url, fetch_ts,
               lower(regexp_extract(headers,
                   '(?im)^cache-control:\\s*([^\\r\\n]*)', 1)) AS lcc
        FROM f
    ), dir AS (
        SELECT url, fetch_ts, lcc,
               regexp_extract(lcc, 'max-age\\s*=\\s*(-?\\d+)', 1) AS raw,
               CASE
                 WHEN lcc = '' THEN 'none'
                 WHEN regexp_matches(lcc,
                     '(^|[,\\s])no-store($|[,\\s])') THEN 'no-store'
                 WHEN regexp_matches(lcc,
                     '(^|[,\\s])no-cache($|[,\\s])') THEN 'no-cache'
                 WHEN regexp_extract(lcc,
                     'max-age\\s*=\\s*(-?\\d+)', 1) <> '' THEN 'max-age'
                 ELSE 'none'
               END AS directive
        FROM ex
    )
    SELECT url, fetch_ts, directive,
           CAST(CASE
             WHEN directive IN ('no-store', 'no-cache') THEN 60
             WHEN directive = 'max-age' THEN
               greatest(60, least(604800, TRY_CAST(raw AS BIGINT)))
             ELSE 86400
           END AS BIGINT) AS max_age,
           fetch_ts + CAST(CASE
             WHEN directive IN ('no-store', 'no-cache') THEN 60
             WHEN directive = 'max-age' THEN
               greatest(60, least(604800, TRY_CAST(raw AS BIGINT)))
             ELSE 86400
           END AS BIGINT) AS next_fetch_ts
    FROM dir
"""

ORACLES["t75_sitemap_lastmod"] = """
    WITH pages AS (
        SELECT CASE WHEN doc_id < 20
                 THEN 'https://' || source || '.example.com/sitemap.xml'
                 ELSE 'https://' || source || '.example.com/d/'
                      || CAST(doc_id AS VARCHAR) END AS url,
               '<urlset><url><loc> https://' || source || '.example.com/a'
               || CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2024-03-'
               || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               || 'T08:30:00+00:00</lastmod></url><url><loc>https://'
               || source || '.example.com/b' || CAST(doc_id AS VARCHAR)
               || '</loc><lastmod>2023-11-0'
               || CAST(doc_id % 9 + 1 AS VARCHAR)
               || '</lastmod></url><url><loc>https://' || source
               || '.example.com/c' || CAST(doc_id AS VARCHAR)
               || '</loc></url></urlset>' AS text
        FROM documents
    ), sm AS (
        SELECT regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
               unnest(regexp_extract_all(text,
                   '(?is)<url>(.*?)</url>', 1)) AS b
        FROM pages
        WHERE regexp_matches(url,
            '^https?://[^/]+[^?#]*sitemap[^/?#]*\\.xml$')
    ), ex AS (
        SELECT host,
               trim(regexp_extract(b,
                   '(?is)<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS loc,
               regexp_extract(b,
                   '(?is)<lastmod>\\s*(\\d{4}-\\d{2}-\\d{2})', 1) AS lm
        FROM sm
    )
    SELECT DISTINCT host, loc, CAST(lm AS DATE) AS lastmod_date
    FROM ex WHERE loc <> '' AND lm <> ''
"""

ORACLES["t76_seed_distance"] = """
    WITH RECURSIVE e AS (
        SELECT DISTINCT src, dst FROM (
            SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
                   'h' || CAST((doc_id * 7) % 40 AS VARCHAR) AS dst
            FROM documents
            UNION ALL
            SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
                   'h' || CAST((doc_id % 40) + 1 AS VARCHAR) AS dst
            FROM documents WHERE doc_id % 3 = 0
        )
    ), walk(node, dist) AS (
        SELECT 'h0', 0
        UNION ALL
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.dist < 6
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node
"""

ORACLES["t77_collapse_lines"] = """
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN 'x' || chr(10) || 'x'
                        || chr(10) || 'x'
                    ELSE text || chr(10) || text || chr(10) || 'tail-'
                        || CAST(doc_id % 7 AS VARCHAR) END AS text
        FROM documents
    ), l AS (
        SELECT doc_id, string_split(text, chr(10)) AS arr FROM d
    ), ex AS (
        SELECT l.doc_id, t.i, l.arr[t.i] AS line,
               CASE WHEN t.i > 1 THEN l.arr[t.i - 1] END AS prev,
               len(l.arr) AS n
        FROM l, UNNEST(generate_series(1, len(l.arr))) AS t(i)
    ), keep AS (
        SELECT doc_id, i, line, n FROM ex
        WHERE i = 1 OR line <> prev
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY i) AS text,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM keep GROUP BY doc_id
"""

ORACLES["t78_encoding_audit"] = """
    WITH d AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 11 = 0 THEN text || ' Ã© Ã¨ Ã¼'
                 WHEN doc_id % 13 = 0 THEN text || ' caf�'
                 WHEN doc_id % 17 = 0 THEN text || chr(7)
                 WHEN doc_id = 1 THEN text || ' Ã©'
                 ELSE text
               END AS text
        FROM documents
    ), c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, 'Ã.|â€'))
                   AS BIGINT) AS n_mojibake,
               CAST(len(regexp_extract_all(text, '�'))
                   AS BIGINT) AS n_replacement,
               CAST(len(regexp_extract_all(text,
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))
                   AS BIGINT) AS n_ctrl
        FROM d
    )
    SELECT doc_id, n_mojibake, n_replacement, n_ctrl,
           (n_replacement > 0 OR n_ctrl > 0 OR n_mojibake >= 3)
               AS suspect
    FROM c
"""

ORACLES["t79_frontier_age"] = """
    WITH ops AS (
        SELECT 'u' || CAST(doc_id % 120 AS VARCHAR) AS url,
               doc_id % 6 AS r, 'insert' AS op
        FROM documents
        UNION ALL
        SELECT 'u' || CAST(doc_id % 120 AS VARCHAR) AS url,
               doc_id % 6 + doc_id % 4 AS r, 'done' AS op
        FROM documents WHERE doc_id % 120 < 90
    ), per AS (
        SELECT url,
               min(CASE WHEN op = 'insert' THEN r END) AS ins,
               min(CASE WHEN op = 'done' THEN r END) AS done
        FROM ops GROUP BY url
    ), aged AS (
        SELECT CASE WHEN done IS NOT NULL
                    THEN CAST(done - ins AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS age
        FROM per WHERE ins IS NOT NULL
    ), hist AS (
        SELECT age, CAST(count(*) AS BIGINT) AS n_urls
        FROM aged GROUP BY age
    )
    SELECT age, n_urls,
           round(CAST(n_urls AS DOUBLE)
                 / sum(n_urls) OVER (), 6) AS share
    FROM hist
"""

ORACLES["t80_hreflang"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/en/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               '<link rel="alternate" hreflang="DE" href="https://'
               || source || '.example.com/de/d/'
               || CAST(doc_id AS VARCHAR)
               || '"><link hreflang="fr" href="/fr/d/'
               || CAST(doc_id AS VARCHAR)
               || '" rel="alternate"><link rel="canonical" href="https://'
               || source || '.example.com/en/d/'
               || CAST(doc_id AS VARCHAR) || '">' AS html
        FROM documents
    ), tags AS (
        SELECT url,
               unnest(regexp_extract_all(html, '(?i)(<link[^>]*>)', 1))
                   AS t
        FROM pages
    ), ex AS (
        SELECT url,
               regexp_extract(t, '(?i)hreflang="([A-Za-z0-9-]+)"', 1)
                   AS lang,
               regexp_extract(t, '(?i)href="([^"]+)"', 1) AS href
        FROM tags
        WHERE regexp_matches(t, '(?i)rel="alternate"')
    ), res AS (
        SELECT url, lower(lang) AS hreflang,
               CASE
                 WHEN regexp_matches(href, '^https?://') THEN href
                 WHEN href LIKE '//%' THEN
                   regexp_extract(url, '^([a-z][a-z0-9+.-]*):', 1)
                   || ':' || href
                 WHEN href LIKE '/%' THEN
                   regexp_extract(url,
                       '^([a-z][a-z0-9+.-]*://[^/?#]+)', 1) || href
                 ELSE coalesce(nullif(regexp_extract(url,
                       '^([a-z][a-z0-9+.-]*://[^?#]*/)', 1), ''),
                       regexp_extract(url,
                           '^([a-z][a-z0-9+.-]*://[^/?#]+)', 1) || '/')
                   || href
               END AS alt_url
        FROM ex WHERE lang <> '' AND href <> ''
    )
    SELECT DISTINCT url, hreflang, alt_url FROM res
"""

ORACLES["t81_web_clean"] = """
    WITH pages0 AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CASE
                 WHEN doc_id % 37 = 0 THEN 'page not found'
                 WHEN doc_id % 11 = 0 THEN text || ' Ã© Ã¨ Ã¼'
                 WHEN doc_id % 50 = 7 THEN 'duplicate template page'
                 WHEN doc_id % 5 = 0 THEN text || chr(10) || text
                 ELSE text
               END AS text
        FROM documents
    ), pages AS (
        -- refetch collapse: deterministic min(text) per url (engine twin)
        SELECT url, min(text) AS text FROM pages0 GROUP BY url
    ), s404 AS (
        SELECT url,
               (regexp_matches(lower(text),
                   'page not found|404 not found|error 404|does not exist|no longer available')
                AND CAST(len(string_split(text, ' ')) AS DOUBLE)
                    < 0.5 * avg(CAST(len(string_split(text, ' '))
                                     AS DOUBLE)) OVER (
                          PARTITION BY regexp_extract(url,
                              '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)))
                   AS is_soft404
        FROM pages
    ), enc AS (
        SELECT url,
               (len(regexp_extract_all(text, '�')) > 0
                OR len(regexp_extract_all(text,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) > 0
                OR len(regexp_extract_all(text, 'Ã.|â€')) >= 3)
                   AS suspect
        FROM pages
    ), kept AS (
        SELECT p.url, p.text FROM pages p
        JOIN s404 USING (url) JOIN enc USING (url)
        WHERE NOT s404.is_soft404 AND NOT enc.suspect
    ), l AS (
        SELECT url, string_split(text, chr(10)) AS arr FROM kept
    ), ex AS (
        SELECT l.url, t.i, l.arr[t.i] AS line,
               CASE WHEN t.i > 1 THEN l.arr[t.i - 1] END AS prev,
               len(l.arr) AS n
        FROM l, UNNEST(generate_series(1, len(l.arr))) AS t(i)
    ), collapsed AS (
        SELECT url,
               string_agg(line, chr(10) ORDER BY i) AS text,
               CAST(max(n) - count(*) AS BIGINT) AS n_collapsed_lines
        FROM ex WHERE i = 1 OR line <> prev
        GROUP BY url
    ), fp AS (
        SELECT url,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
        FROM collapsed
    ), winners AS (
        SELECT min(url) AS url FROM fp GROUP BY f
    )
    SELECT c.url, c.text, c.n_collapsed_lines
    FROM collapsed c JOIN winners w USING (url)
"""

ORACLES["t82_novelty_curve"] = """
    WITH corpus AS (
        SELECT CAST(doc_id % 4 AS BIGINT) AS r,
               CASE WHEN doc_id % 3 = 0
                    THEN 'shared-template-' || CAST(doc_id % 20 AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    ), fp AS (
        SELECT r,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
        FROM corpus
    ), first AS (
        SELECT f, min(r) AS first_r FROM fp GROUP BY f
    )
    SELECT fp.r AS crawl_round,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN fp.r = first.first_r THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN fp.r = first.first_r THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty_share
    FROM fp JOIN first USING (f)
    GROUP BY fp.r
"""

ORACLES["t83_degree_distribution"] = """
    WITH e AS (
        SELECT 'h' || CAST(doc_id % 25 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 3) % 25 AS VARCHAR) AS dst,
               CAST(doc_id % 5 + 1 AS DOUBLE) AS weight
        FROM documents
    ), o AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS out_degree,
               sum(weight) AS out_weight
        FROM e GROUP BY src
    ), i AS (
        SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_degree,
               sum(weight) AS in_weight
        FROM e GROUP BY dst
    )
    SELECT coalesce(o.node, i.node) AS node,
           coalesce(o.out_degree, 0) AS out_degree,
           coalesce(i.in_degree, 0) AS in_degree,
           round(coalesce(o.out_weight, 0), 6) AS out_weight,
           round(coalesce(i.in_weight, 0), 6) AS in_weight
    FROM o FULL OUTER JOIN i ON o.node = i.node
"""

ORACLES["t84_pmi_collocations"] = """
    WITH toks AS (
        SELECT list_filter(string_split(lower(text), ' '), w -> w != '') AS ts
        FROM documents
    ), uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
    ), allbg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
            SELECT ts[i] AS w1, ts[i + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
            WHERE len(ts) >= 2
        ) GROUP BY w1, w2
    ), nu AS (SELECT sum(c) AS nu FROM uni),
    nb AS (SELECT sum(c12) AS nb FROM allbg),
    scored AS (
        SELECT b.w1, b.w2, b.c12,
               CAST(round(ln((CAST(b.c12 AS DOUBLE) / nb.nb)
                             / ((CAST(u1.c AS DOUBLE) / nu.nu)
                                * (CAST(u2.c AS DOUBLE) / nu.nu))) * 1e6)
                    AS BIGINT) AS pmi_micro
        FROM allbg b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN nu CROSS JOIN nb
        WHERE b.c12 >= 5
    ), ranked AS (
        SELECT w1, w2, c12, pmi_micro,
               CAST(row_number() OVER (ORDER BY pmi_micro DESC, w1, w2)
                    AS INTEGER) AS rank
        FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 20
"""

ORACLES["t85_host_components"] = (
    """WITH RECURSIVE e0 AS (
        SELECT 'g' || CAST(doc_id % 10 AS VARCHAR)
                   || 'n' || CAST(doc_id % 4 AS VARCHAR) AS doc_a,
               'g' || CAST(doc_id % 10 AS VARCHAR)
                   || 'n' || CAST((doc_id + 1) % 4 AS VARCHAR) AS doc_b
        FROM documents
    )"""
    + _closure_sql("SELECT doc_a, doc_b FROM e0 WHERE doc_a <> doc_b")
    + """
    , comp_sizes AS (
        SELECT cluster_id AS component_id, CAST(count(*) AS BIGINT) AS n_hosts
        FROM cc_labels GROUP BY cluster_id
    )
    SELECT l.doc_id AS host, l.cluster_id AS component_id, s.n_hosts
    FROM cc_labels l JOIN comp_sizes s ON l.cluster_id = s.component_id
"""
)


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled SQL twin of graph.hits: one (auth, hub) normalization
    pair of CTEs per iteration, every value in integer nano-units so
    each division is hash-checked bit-exactly."""
    parts = ["""
    WITH e AS (
        SELECT DISTINCT 'h' || CAST(doc_id % 25 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 3) % 25 AS VARCHAR) AS dst
        FROM documents
    ), nodes AS (
        SELECT src AS node FROM e UNION SELECT dst FROM e
    ), h0 AS (
        SELECT node,
               CAST(floor(1e9 / (SELECT count(*) FROM nodes)) AS BIGINT)
                   AS hub
        FROM nodes
    )"""]
    for k in range(1, iters + 1):
        parts.append(f"""
    , a{k}r AS (
        SELECT e.dst AS node, sum(h.hub) AS auth
        FROM e JOIN h{k - 1} h ON e.src = h.node GROUP BY e.dst
    ), a{k} AS (
        SELECT node,
               CAST(round(CAST(auth AS DOUBLE)
                          / (SELECT sum(auth) FROM a{k}r) * 1e9) AS BIGINT)
                   AS auth
        FROM a{k}r
    ), h{k}r AS (
        SELECT e.src AS node, sum(a.auth) AS hub
        FROM e JOIN a{k} a ON e.dst = a.node GROUP BY e.src
    ), h{k} AS (
        SELECT node,
               CAST(round(CAST(hub AS DOUBLE)
                          / (SELECT sum(hub) FROM h{k}r) * 1e9) AS BIGINT)
                   AS hub
        FROM h{k}r
    )""")
    parts.append(f"""
    SELECT n.node,
           round(CAST(coalesce(h.hub, 0) AS DOUBLE) / 1e9, 6) AS hub,
           round(CAST(coalesce(a.auth, 0) AS DOUBLE) / 1e9, 6) AS auth
    FROM nodes n
    LEFT JOIN h{iters} h ON n.node = h.node
    LEFT JOIN a{iters} a ON n.node = a.node
""")
    return "".join(parts)


ORACLES["t86_hits"] = _hits_oracle_sql(3)


ORACLES["t87_char_entropy"] = """
    WITH ch AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '(?s:.)')) AS ch
        FROM documents
    ), counts AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM ch GROUP BY doc_id, ch
    ), n AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
        FROM counts GROUP BY doc_id
    ), terms AS (
        SELECT counts.doc_id, n.n,
               CAST(round((0.0 - CAST(c AS DOUBLE) / n.n)
                          * ln(CAST(c AS DOUBLE) / n.n) * 1e6) AS BIGINT)
                   AS t
        FROM counts JOIN n USING (doc_id)
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_chars,
           CAST(sum(t) AS BIGINT) AS entropy_micro,
           round(CAST(sum(t) AS DOUBLE) / 1e6, 6) AS entropy
    FROM terms GROUP BY doc_id
"""

ORACLES["t88_pld_link_stats"] = """
    WITH e AS (
        SELECT 's' || CAST(doc_id % 2 AS VARCHAR)
                   || '.d' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS src,
               's' || CAST((doc_id + 1) % 2 AS VARCHAR)
                   || '.d' || CAST((doc_id % 5
                        + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) % 5
                        AS VARCHAR) || '.com' AS dst
        FROM documents
    ), marked AS (
        SELECT dst AS host,
               regexp_extract(dst, '([^.]+\\.[^.]+)$', 1) AS pld,
               CASE WHEN regexp_extract(src, '([^.]+\\.[^.]+)$', 1)
                         = regexp_extract(dst, '([^.]+\\.[^.]+)$', 1)
                    THEN 1 ELSE 0 END AS is_self
        FROM e WHERE src <> dst
    ), agg AS (
        SELECT host, pld, CAST(count(*) AS BIGINT) AS n_in,
               CAST(sum(is_self) AS BIGINT) AS n_self
        FROM marked GROUP BY host, pld
    )
    SELECT host, pld, n_in, n_self,
           round(CAST(n_self AS DOUBLE) / n_in, 6) AS self_share,
           (n_in >= 2 AND round(CAST(n_self AS DOUBLE) / n_in, 6) >= 0.75)
               AS is_self_promoting
    FROM agg
"""


ORACLES["t89_robots_stats"] = """
    WITH pages AS (
        SELECT CASE WHEN doc_id < 20
                    THEN 'https://' || source || '.example.com/robots.txt'
                    ELSE 'https://' || source || '.example.com/d/'
                         || CAST(doc_id AS VARCHAR) END AS url,
               CASE WHEN doc_id < 20 THEN
                    'User-agent: *' || chr(10)
                    || CASE WHEN doc_id % 2 = 0
                            THEN 'Allow: /pub' || chr(10) ELSE '' END
                    || 'Disallow: /private' || chr(10)
                    || CASE WHEN doc_id % 3 = 0
                            THEN 'Disallow: /tmp' || chr(10) ELSE '' END
                    || CASE WHEN doc_id % 5 = 0
                            THEN 'Disallow: /' || chr(10) ELSE '' END
                    || CASE WHEN doc_id % 3 <> 1
                            THEN 'Crawl-delay: '
                                 || CAST(doc_id % 7 AS VARCHAR) || chr(10)
                            ELSE '' END
                    || 'X-Disallow: /decoy' || chr(10)
                    || 'see Disallow: inline mention' || chr(10)
                    || 'Sitemap: https://' || source
                    || '.example.com/sitemap.xml' || chr(10)
               ELSE 'Disallow: /' || chr(10) || text END AS text
        FROM documents
    ), r AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               CAST(len(regexp_extract_all(text, '(?im)^allow[ \t]*:'))
                    AS BIGINT) AS n_allow,
               CAST(len(regexp_extract_all(text, '(?im)^disallow[ \t]*:'))
                    AS BIGINT) AS n_disallow,
               CAST(len(regexp_extract_all(text, '(?im)^sitemap[ \t]*:'))
                    AS BIGINT) AS n_sitemaps,
               TRY_CAST(regexp_extract(text,
                   '(?im)^crawl-delay[ \t]*:[ \t]*([0-9.]+)', 1) AS DOUBLE)
                   AS crawl_delay,
               regexp_matches(text, '(?im)^disallow[ \t]*:[ \t]*/[ \t\r]*$')
                   AS blanket_block
        FROM pages
        WHERE regexp_matches(url, '^https?://[^/]+/robots\\.txt$')
    )
    SELECT host, max(n_allow) AS n_allow, max(n_disallow) AS n_disallow,
           max(n_sitemaps) AS n_sitemaps, max(crawl_delay) AS crawl_delay,
           max(blanket_block) AS blanket_block
    FROM r GROUP BY host
"""

ORACLES["t90_meta_robots"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CASE doc_id % 5
                 WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
                 WHEN 1 THEN '<meta content="nofollow" name="robots">'
                 WHEN 2 THEN '<meta name="robots" content="index, follow">'
                             || '<link rel="canonical" href="https://e.com/c">'
                 WHEN 3 THEN '<link href="https://e.com/c" rel="canonical">'
                 ELSE '<meta name="viewport" content="noindex">'
               END AS html
        FROM documents
    ), ext AS (
        SELECT url,
               nullif(coalesce(
                   nullif(regexp_extract(html,
                       '(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1),
                       ''),
                   nullif(regexp_extract(html,
                       '(?i)<meta[^>]*content="([^"]*)"[^>]*name="robots"', 1),
                       '')), '') AS robots_content,
               (regexp_matches(html,
                    '(?i)<link[^>]*rel="canonical"[^>]*href="[^"]+"')
                OR regexp_matches(html,
                    '(?i)<link[^>]*href="[^"]+"[^>]*rel="canonical"'))
                   AS has_canonical
        FROM pages
    )
    SELECT url, robots_content,
           coalesce(contains(lower(robots_content), 'noindex'), false)
               AS noindex,
           coalesce(contains(lower(robots_content), 'nofollow'), false)
               AS nofollow,
           has_canonical
    FROM ext
"""


ORACLES["t91_shard_integrity"] = """
    WITH per AS (
        SELECT 'sh' || CAST(doc_id % 8 AS VARCHAR) AS shard,
               doc_id AS _id, md5(text) AS _fp,
               CAST(strlen(text) AS BIGINT) AS _b
        FROM documents
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(_b) AS BIGINT) AS total_bytes,
           md5(string_agg(_fp, '' ORDER BY _id)) AS shard_digest
    FROM per GROUP BY shard
"""


ORACLES["t92_script_profile"] = """
    WITH pages AS (
        SELECT doc_id,
               CASE doc_id % 7
                 WHEN 0 THEN 'привет мир как дела'
                 WHEN 1 THEN 'word слово word слово'
                 WHEN 2 THEN '汉字测试汉字测试'
                 WHEN 3 THEN '12345 !!! ### 678'
                 ELSE text
               END AS text
        FROM documents
    ), c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z\\x{00C0}-\\x{024F}]')) AS BIGINT) AS n_latin,
               CAST(len(regexp_extract_all(text,
                   '[\\x{0400}-\\x{04FF}]')) AS BIGINT) AS n_cyrillic,
               CAST(len(regexp_extract_all(text,
                   '[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]'))
                   AS BIGINT) AS n_cjk,
               CAST(len(regexp_extract_all(text,
                   '[\\x{0600}-\\x{06FF}]')) AS BIGINT) AS n_arabic,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
                   AS n_digit,
               CAST(length(text) AS BIGINT) AS n_total
        FROM pages
    )
    SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit, n_total,
           CASE WHEN n_latin + n_cyrillic + n_cjk + n_arabic > 0
                THEN round(CAST(greatest(n_latin, n_cyrillic, n_cjk,
                                         n_arabic) AS DOUBLE)
                           / (n_latin + n_cyrillic + n_cjk + n_arabic), 6)
           END AS dominant_share,
           coalesce(
               CASE WHEN n_latin + n_cyrillic + n_cjk + n_arabic > 0
                    THEN CAST(n_latin + n_cyrillic + n_cjk + n_arabic
                              - greatest(n_latin, n_cyrillic, n_cjk,
                                         n_arabic) AS DOUBLE)
                         / (n_latin + n_cyrillic + n_cjk + n_arabic) >= 0.1
               END, false) AS is_mixed_script,
           round(CAST(n_total - (n_latin + n_cyrillic + n_cjk + n_arabic)
                      - n_digit AS DOUBLE)
                 / greatest(n_total, 1), 6) AS other_share,
           round(CAST(n_total - (n_latin + n_cyrillic + n_cjk + n_arabic)
                      - n_digit AS DOUBLE)
                 / greatest(n_total, 1), 6) >= 0.5 AS is_mostly_other
    FROM c
"""


ORACLES["t93_link_reciprocity"] = """
    WITH e AS (
        SELECT CASE
                 WHEN doc_id % 30 = 2 THEN 'h' || CAST((doc_id + 2) % 10 AS VARCHAR)
                 WHEN doc_id % 3 = 0 THEN 'h' || CAST(doc_id % 10 AS VARCHAR)
                 WHEN doc_id % 3 = 1 THEN 'h' || CAST((doc_id + 1) % 10 AS VARCHAR)
                 ELSE 'h' || CAST(doc_id % 10 AS VARCHAR)
               END AS src,
               CASE
                 WHEN doc_id % 30 = 2 THEN 'h' || CAST(doc_id % 10 AS VARCHAR)
                 WHEN doc_id % 3 = 0 THEN 'h' || CAST((doc_id + 1) % 10 AS VARCHAR)
                 WHEN doc_id % 3 = 1 THEN 'h' || CAST(doc_id % 10 AS VARCHAR)
                 ELSE 'h' || CAST((doc_id + 2) % 10 AS VARCHAR)
               END AS dst
        FROM documents
    ), pairs AS (
        SELECT DISTINCT src AS a, dst AS b FROM e WHERE src <> dst
    ), agg AS (
        SELECT p.a AS host, CAST(count(*) AS BIGINT) AS n_out_hosts,
               CAST(sum(CASE WHEN r.a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reciprocal
        FROM pairs p
        LEFT JOIN pairs r ON r.a = p.b AND r.b = p.a
        GROUP BY p.a
    )
    SELECT host, n_out_hosts, n_reciprocal,
           round(CAST(n_reciprocal AS DOUBLE) / n_out_hosts, 6)
               AS reciprocal_share,
           (n_out_hosts >= 2
            AND round(CAST(n_reciprocal AS DOUBLE) / n_out_hosts, 6) >= 0.8)
               AS is_link_exchange
    FROM agg
"""

ORACLES["t94_politeness_ceiling"] = """
    WITH counts AS (
        SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
               CAST(count(*) AS BIGINT) AS n_queued
        FROM documents GROUP BY 1
    ), delays AS (
        SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
               CAST(doc_id AS DOUBLE) * 0.5 AS crawl_delay
        FROM documents WHERE doc_id < 10
    ), j AS (
        SELECT c.host, c.n_queued,
               CASE WHEN d.crawl_delay > 0 THEN d.crawl_delay
                    ELSE 1.0 END AS delay
        FROM counts c LEFT JOIN delays d ON c.host = d.host
    )
    SELECT host, n_queued,
           round(delay, 6) AS crawl_delay,
           round(1.0 / delay, 6) AS max_rate,
           round(CAST(n_queued AS DOUBLE) * delay, 6) AS drain_seconds,
           (CAST(n_queued AS DOUBLE) * delay >= 30.0) AS is_bottleneck
    FROM j
"""


ORACLES["t95_apply_canonical"] = """
    WITH pages AS (
        SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR)
                   || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
               CASE
                 WHEN doc_id % 4 = 0 THEN
                   '<p>x</p><link rel="canonical" href="https://h'
                   || CAST((doc_id - doc_id % 10) % 20 AS VARCHAR)
                   || '.example.com/d/'
                   || CAST(doc_id - doc_id % 10 AS VARCHAR) || '">'
                 WHEN doc_id % 4 = 1 THEN
                   '<link rel="canonical" href="/d/'
                   || CAST(doc_id + 1 AS VARCHAR) || '">'
                 WHEN doc_id % 4 = 2 THEN
                   '<link href="https://h' || CAST(doc_id % 20 AS VARCHAR)
                   || '.example.com/d/' || CAST(doc_id AS VARCHAR)
                   || '" rel="canonical">'
                 ELSE
                   '<link rel="canonical" href="c'
                   || CAST(doc_id % 5 AS VARCHAR) || '.html">'
               END AS html
        FROM documents
    ), ex AS (
        SELECT url,
               nullif(coalesce(
                   nullif(regexp_extract(html,
                       '<link[^>]*rel="canonical"[^>]*href="([^"]+)"', 1),
                       ''),
                   nullif(regexp_extract(html,
                       '<link[^>]*href="([^"]+)"[^>]*rel="canonical"', 1),
                       '')), '') AS href,
               regexp_extract(url, '^([a-z][a-z0-9+.-]*):', 1) AS scheme,
               regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*://[^/?#]+)', 1) AS origin,
               regexp_extract(url,
                   '^([a-z][a-z0-9+.-]*://[^?#]*/)', 1) AS dirpfx
        FROM pages
    ), res AS (
        SELECT url,
               CASE
                 WHEN regexp_matches(href, '^https?://') THEN href
                 WHEN href LIKE '//%' THEN scheme || ':' || href
                 WHEN href LIKE '/%' THEN origin || href
                 ELSE coalesce(nullif(dirpfx, ''), origin || '/') || href
               END AS canonical_url
        FROM ex WHERE href IS NOT NULL
    ), mem AS (SELECT DISTINCT url FROM pages)
    , drops AS (
        SELECT r.url, r.canonical_url
        FROM res r JOIN mem m ON m.url = r.canonical_url
        WHERE r.canonical_url <> r.url
    ), surv AS (
        SELECT p.url FROM mem p
        LEFT JOIN drops d ON d.url = p.url
        WHERE d.url IS NULL
    ), cnt AS (
        SELECT canonical_url AS url, CAST(count(*) AS BIGINT) AS n
        FROM drops GROUP BY canonical_url
    )
    SELECT s.url, coalesce(c.n, CAST(0 AS BIGINT)) AS n_aliases
    FROM surv s LEFT JOIN cnt c ON c.url = s.url
"""

ORACLES["t96_round_admission_plan"] = """
    WITH counts AS (
        SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
               CAST(count(*) AS BIGINT) AS n_queued
        FROM documents GROUP BY 1
    ), scores AS (
        SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
               CAST((doc_id % 20) % 4 AS DOUBLE) AS score
        FROM documents
    ), delays AS (
        SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
               CAST(doc_id AS DOUBLE) * 0.5 AS crawl_delay
        FROM documents WHERE doc_id < 10
    ), p AS (
        SELECT host, score FROM scores WHERE score > 0
    ), tot AS (SELECT CAST(sum(score) AS DOUBLE) AS tot FROM p),
    qta AS (
        SELECT host, CAST(300 AS DOUBLE) * CAST(score AS DOUBLE) / tot.tot
                   AS quota
        FROM p CROSS JOIN tot
    ), b AS (
        SELECT host, CAST(floor(quota) AS BIGINT) AS base,
               quota - floor(quota) AS rem
        FROM qta
    ), l AS (SELECT 300 - sum(base) AS leftover FROM b),
    r AS (
        SELECT host, base, rem,
               row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk
        FROM b
    ), budget AS (
        SELECT host,
               CAST(base + CASE WHEN rnk <= l.leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS budget
        FROM r CROSS JOIN l
    ), j AS (
        SELECT c.host, c.n_queued,
               coalesce(bu.budget, CAST(0 AS BIGINT)) AS budget,
               CAST(floor(20.0 / CASE WHEN d.crawl_delay > 0
                                      THEN d.crawl_delay ELSE 1.0 END)
                    AS BIGINT) AS politeness_cap
        FROM counts c
        LEFT JOIN delays d ON c.host = d.host
        LEFT JOIN budget bu ON c.host = bu.host
    )
    SELECT host, n_queued, budget, politeness_cap,
           least(budget, politeness_cap, n_queued) AS admitted,
           n_queued - least(budget, politeness_cap, n_queued) AS leftover
    FROM j
"""


ORACLES["t97_retry_outcomes"] = """
    WITH log AS (
        SELECT 'u' || CAST(doc_id % 100 AS VARCHAR) AS url,
               CAST(floor(doc_id / 100) AS BIGINT) AS r,
               CASE WHEN (doc_id * 3) % 7 < 3 THEN 200 ELSE 503 END AS s
        FROM documents
        WHERE floor(doc_id / 100) <= (doc_id % 100) % 4
    ), fin AS (
        SELECT url, r, s,
               row_number() OVER (PARTITION BY url
                                  ORDER BY r DESC, s DESC) AS rn
        FROM log
    ), per AS (
        SELECT url, r AS retry_count,
               CASE WHEN s >= 200 AND s < 300 THEN 1 ELSE 0 END AS ok
        FROM fin WHERE rn = 1
    )
    SELECT retry_count, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(ok) AS BIGINT) AS n_success,
           round(CAST(sum(ok) AS DOUBLE) / count(*), 6) AS success_rate
    FROM per GROUP BY retry_count
"""

ORACLES["t98_robots_churn"] = """
    WITH pages AS (
        SELECT CASE WHEN doc_id % 3 = 0
                    THEN 'https://h' || CAST(doc_id % 20 AS VARCHAR)
                         || '.example.com/robots.txt'
                    ELSE 'https://h' || CAST(doc_id % 20 AS VARCHAR)
                         || '.example.com/d/' || CAST(doc_id AS VARCHAR)
               END AS url,
               CAST(doc_id AS BIGINT) AS ts,
               CASE WHEN doc_id % 3 = 0 AND (doc_id % 20) % 4 = 1
                    THEN 'User-agent: *' || chr(10) || 'Disallow: /stable'
                    WHEN doc_id % 3 = 0
                    THEN 'User-agent: *' || chr(10) || 'Disallow: /v'
                         || CASE WHEN doc_id % 40 < 20 THEN 'A' ELSE 'B' END
                    ELSE 'Disallow: /decoy' || chr(10) || text
               END AS text
        FROM documents
    ), r AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               ts,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        FROM pages
        WHERE regexp_matches(url, '^https?://[^/]+/robots\\.txt$')
    ), marked AS (
        SELECT host, ts, fp,
               row_number() OVER (PARTITION BY host ORDER BY ts ASC, fp ASC)
                   AS rn_first,
               row_number() OVER (PARTITION BY host ORDER BY ts DESC, fp DESC)
                   AS rn_last
        FROM r
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_captures,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
           max(CASE WHEN rn_first = 1 THEN fp END)
               <> max(CASE WHEN rn_last = 1 THEN fp END) AS changed
    FROM marked GROUP BY host
"""


ORACLES["t99_sitemap_coverage"] = """
    WITH sm AS (
        SELECT 'https://' || source || '.example.com' AS hp, doc_id
        FROM documents
    ), pages AS (
        SELECT hp || '/sitemap-' || CAST(doc_id AS VARCHAR) || '.xml'
                   AS url,
               '<url><loc>' || hp || '/d/' || CAST(doc_id AS VARCHAR)
                   || '</loc></url>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<url><loc>' || hp || '/ghost/'
                                || CAST(doc_id AS VARCHAR) || '</loc></url>'
                           ELSE '' END AS text
        FROM sm
    ), crawled AS (
        SELECT DISTINCT hp || '/d/' || CAST(doc_id AS VARCHAR) AS loc
        FROM sm
    ), ex AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               unnest(regexp_extract_all(text,
                   '(?i)<loc>[ \\t\\r\\n]*([^< \\t\\r\\n]+)[ \\t\\r\\n]*</loc>',
                   1)) AS loc
        FROM pages
        WHERE regexp_matches(url,
            '^https?://[^/]+[^?#]*sitemap[^/?#]*\\.xml$')
    ), adv AS (
        SELECT DISTINCT host, loc FROM ex
    ), fl AS (
        SELECT a.host,
               CASE WHEN c.loc IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM adv a LEFT JOIN crawled c ON a.loc = c.loc
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_advertised,
           CAST(sum(hit) AS BIGINT) AS n_crawled,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_uncrawled,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS coverage
    FROM fl GROUP BY host
"""

ORACLES["t100_group_quality_wilson"] = """
    WITH agg AS (
        SELECT source AS host,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good
        FROM documents GROUP BY source
    )
    SELECT host, n, n_good,
           round(CAST(n_good AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           round(
             (CAST(n_good AS DOUBLE) / CAST(n AS DOUBLE)
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
              - 1.96 * sqrt(
                  (CAST(n_good AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1.0 - CAST(n_good AS DOUBLE) / CAST(n AS DOUBLE))
                   + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                  / CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)),
           6) AS wilson_lb
    FROM agg
"""

ORACLES["t101_length_drift_psi"] = """
    WITH u AS (
        SELECT least(CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS BIGINT),
                     CAST(19 AS BIGINT)) AS bucket,
               doc_id % 2 AS s
        FROM documents
    ), per AS (
        SELECT bucket,
               CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM u GROUP BY bucket
    ), t AS (
        SELECT bucket, n_a, n_b,
               (CAST(n_a AS DOUBLE) + 1.0)
                   / (sum(CAST(n_a AS DOUBLE)) OVER () + 20.0) AS p,
               (CAST(n_b AS DOUBLE) + 1.0)
                   / (sum(CAST(n_b AS DOUBLE)) OVER () + 20.0) AS q
        FROM per
    )
    SELECT bucket, n_a, n_b,
           CAST(round((p - q) * ln(p / q) * 1e6, 0) AS BIGINT)
               AS psi_term_micro
    FROM t
"""

ORACLES["t102_sentence_stats"] = """
    WITH s AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[.!?]+\\s+'),
                           x -> len(trim(x)) > 0) AS sents
        FROM documents
    ), w AS (
        SELECT doc_id,
               list_transform(sents,
                              x -> len(string_split_regex(trim(x), ' +')))
                   AS wc
        FROM s
    )
    SELECT doc_id,
           CAST(len(wc) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_sum(wc), 0) AS BIGINT) AS n_words,
           CASE WHEN len(wc) > 0
                THEN round(CAST(coalesce(list_sum(wc), 0) AS DOUBLE)
                           / CAST(len(wc) AS DOUBLE), 6) END
               AS avg_words_per_sentence,
           CASE WHEN len(wc) > 0
                THEN round(CAST(len(list_filter(wc, x -> x > 12)) AS DOUBLE)
                           / CAST(len(wc) AS DOUBLE), 6) END
               AS pct_long_sentences
    FROM w
"""

ORACLES["t103_host_concentration"] = """
    WITH rows_ AS (
        SELECT 'h' || CAST(doc_id % (1 + (doc_id % 7)) AS VARCHAR) AS h
        FROM documents
    ), per AS (
        SELECT h, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY h
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_hosts
        FROM per
    ), hhi AS (
        SELECT CAST(sum(CAST(round(
                   pow(CAST(n AS DOUBLE), 2) * 1e12
                   / pow(CAST((SELECT n_docs FROM tot) AS DOUBLE), 2),
               0) AS BIGINT)) AS BIGINT) AS hhi_pico
        FROM per
    ), top1 AS (
        SELECT n AS n1 FROM per ORDER BY n DESC, h ASC LIMIT 1
    ), top10 AS (
        SELECT CAST(sum(n) AS BIGINT) AS n10 FROM (
            SELECT n FROM per ORDER BY n DESC, h ASC LIMIT 10
        )
    )
    SELECT tot.n_docs, tot.n_hosts, hhi.hhi_pico,
           round(CAST(top1.n1 AS DOUBLE) / tot.n_docs, 6) AS top1_share,
           round(CAST(top10.n10 AS DOUBLE) / tot.n_docs, 6) AS top10_share
    FROM tot, hhi, top1, top10
"""

ORACLES["t104_extraction_density"] = """
    WITH pages AS (
        SELECT 'https://' || source || '.example.com/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               '<html><body><p>' || text || '</p>'
                   || repeat('<a href="/l">x</a>',
                             CAST(doc_id % 5 AS INTEGER))
                   || CASE WHEN doc_id % 10 = 0
                           THEN repeat('<div class="nav">padpadpad</div>',
                                       200)
                           ELSE '' END
                   || '</body></html>' AS html,
               text
        FROM documents
    )
    SELECT url,
           CAST(len(html) AS BIGINT) AS html_len,
           CAST(len(text) AS BIGINT) AS text_len,
           CASE WHEN len(html) > 0
                THEN round(CAST(len(text) AS DOUBLE)
                           / CAST(len(html) AS DOUBLE), 6) END
               AS text_ratio,
           CAST(len(regexp_extract_all(html, '(?i)<a[ \\t][^>]*href'))
                AS BIGINT) AS n_links,
           CASE WHEN len(html) > 0
                THEN round(CAST(len(regexp_extract_all(html,
                               '(?i)<a[ \\t][^>]*href')) AS DOUBLE)
                           * 1024.0 / CAST(len(html) AS DOUBLE), 6) END
               AS links_per_kb,
           coalesce(CASE WHEN len(html) > 0
                         THEN round(CAST(len(text) AS DOUBLE)
                                    / CAST(len(html) AS DOUBLE), 6) END
                    < 0.1, FALSE) AS low_yield
    FROM pages
"""

ORACLES["t105_robots_violation_audit"] = """
    WITH log AS (
        SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
               'https://h' || CAST(doc_id % 20 AS VARCHAR)
                   || '.example.com'
                   || CASE WHEN doc_id % 5 = 0 THEN '/private/'
                           ELSE '/d/' END
                   || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ), robots AS (
        SELECT 'h' || CAST(doc_id AS VARCHAR) AS rh,
               ['/private'] AS deny_prefixes
        FROM documents WHERE doc_id < 20 AND doc_id % 2 = 0
    ), j AS (
        SELECT l.host,
               CASE WHEN r.rh IS NOT NULL
                    AND len(list_filter(r.deny_prefixes,
                        p -> starts_with(regexp_extract(l.url,
                            '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                            p))) > 0
                    THEN 1 ELSE 0 END AS v
        FROM log l LEFT JOIN robots r ON l.host = r.rh
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_fetches,
           CAST(sum(v) AS BIGINT) AS n_violations,
           round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS violation_rate
    FROM j GROUP BY host
"""

ORACLES["t106_zipf_slope"] = """
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), f AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM toks WHERE len(tok) > 0 GROUP BY tok
    ), top AS (
        SELECT tok, n FROM f ORDER BY n DESC, tok ASC LIMIT 50
    ), pts AS (
        SELECT CAST(round(ln(CAST(rn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
               CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
        FROM (SELECT n,
                     row_number() OVER (ORDER BY n DESC, tok ASC) AS rn
              FROM top)
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT np AS n_points,
           round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE) / 1e6
                  - ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE) / 1e6)
                 / CAST(np AS DOUBLE), 6) AS intercept
    FROM s
"""

ORACLES["t107_embedding_health"] = """
    WITH e AS (
        SELECT label,
               CASE WHEN vec_id % 29 = 0
                    THEN list_transform(embedding,
                                        x -> CAST(0.0 AS FLOAT))
                    ELSE embedding END AS emb
        FROM embeddings
    ), r AS (
        SELECT label,
               CAST(len(emb) AS BIGINT) AS dim,
               CAST(round(sqrt(list_sum(list_transform(emb,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * 1e6, 0) AS BIGINT) AS nm
        FROM e
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(dim) AS BIGINT) AS dim_min,
           CAST(max(dim) AS BIGINT) AS dim_max,
           CAST(sum(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           CAST(round(CAST(sum(nm) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                      0) AS BIGINT) AS mean_norm_micro
    FROM r GROUP BY label
"""

ORACLES["t108_crawl_yield_curve"] = """
    WITH m AS (
        SELECT doc_id % 12 AS round, 1 AS fetched,
               greatest(0, 40 - 4 * (doc_id % 12)) AS new_links
        FROM documents
    ), per AS (
        SELECT round,
               CAST(sum(fetched) AS BIGINT) AS fetched,
               CAST(sum(new_links) AS BIGINT) AS new_links
        FROM m GROUP BY round
    )
    SELECT round, fetched, new_links,
           CASE WHEN fetched > 0
                THEN round(CAST(new_links AS DOUBLE)
                           / CAST(fetched AS DOUBLE), 6) END
               AS discovery_rate,
           CAST(sum(fetched) OVER (ORDER BY round
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_fetched,
           CAST(sum(new_links) OVER (ORDER BY round
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_new_links,
           coalesce(CASE WHEN fetched > 0
                         THEN round(CAST(new_links AS DOUBLE)
                                    / CAST(fetched AS DOUBLE), 6) END
                    < 0.1, FALSE) AS saturated
    FROM per
"""

ORACLES["t109_capture_cadence"] = """
    WITH caps AS (
        SELECT 'u' || CAST(doc_id % 100 AS VARCHAR) AS url,
               CAST(doc_id + (doc_id % 7) * 3 AS BIGINT) AS ts
        FROM documents
    ), g AS (
        SELECT url, ts,
               ts - lag(ts) OVER (PARTITION BY url ORDER BY ts) AS gap
        FROM caps
    ), per AS (
        SELECT url,
               CAST(count(*) AS BIGINT) AS n_captures,
               CAST(min(ts) AS BIGINT) AS first_ts,
               CAST(max(ts) AS BIGINT) AS last_ts,
               CAST(max(gap) AS BIGINT) AS max_gap
        FROM g GROUP BY url
    )
    SELECT url, n_captures, first_ts, last_ts,
           CASE WHEN n_captures > 1
                THEN round(CAST(last_ts - first_ts AS DOUBLE)
                           / CAST(n_captures - 1 AS DOUBLE), 6) END
               AS mean_gap,
           max_gap
    FROM per
"""

ORACLES["t110_stale_capture_report"] = """
    WITH d AS (
        SELECT doc_id,
               'https://' || source || '.example.com' AS hp
        FROM documents
    ), pages AS (
        SELECT hp || '/sitemap-' || CAST(doc_id AS VARCHAR) || '.xml'
                   AS url,
               '<urlset><url><loc>' || hp || '/d/'
                   || CAST(doc_id AS VARCHAR)
                   || '</loc><lastmod>2024-01-'
                   || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                   || '</lastmod></url></urlset>' AS text,
               doc_id, hp
        FROM d
    ), lm AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                   AS host,
               hp || '/d/' || CAST(doc_id AS VARCHAR) AS u,
               CAST((CAST('2024-01-'
                       || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                       AS DATE) - DATE '1970-01-01') AS BIGINT)
                   AS lastmod_day
        FROM pages
        WHERE regexp_matches(url,
            '^https?://[^/]+[^?#]*sitemap[^/?#]*\\.xml$')
    ), lmx AS (
        SELECT host, u, CAST(max(lastmod_day) AS BIGINT) AS lastmod_day
        FROM lm GROUP BY host, u
    ), cap AS (
        SELECT hp || '/d/' || CAST(doc_id AS VARCHAR) AS u,
               CAST(max(CAST(floor(
                   CAST(86400 * (19723 + (doc_id % 14)) AS DOUBLE)
                   / 86400.0) AS BIGINT)) AS BIGINT) AS last_capture_day
        FROM d WHERE doc_id % 3 <> 0 GROUP BY 1
    )
    SELECT l.host, l.u AS url, l.lastmod_day, c.last_capture_day,
           l.lastmod_day - c.last_capture_day AS staleness_days,
           c.last_capture_day IS NULL AS never_captured
    FROM lmx l LEFT JOIN cap c ON l.u = c.u
    WHERE c.last_capture_day IS NULL
       OR l.lastmod_day - c.last_capture_day > 0
"""

ORACLES["t111_lix_readability"] = """
    WITH s AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[.!?]+\\s+'),
                           x -> len(trim(x)) > 0) AS sents,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           w -> len(w) > 0) AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(len(list_filter(words, w -> len(w) >= 7)) AS BIGINT)
               AS n_long_words,
           CASE WHEN len(sents) > 0 AND len(words) > 0
                THEN round(CAST(len(words) AS DOUBLE)
                           / CAST(len(sents) AS DOUBLE)
                           + 100.0
                             * CAST(len(list_filter(words,
                                        w -> len(w) >= 7)) AS DOUBLE)
                             / CAST(len(words) AS DOUBLE), 6) END AS lix
    FROM s
"""

ORACLES["t112_vocab_growth"] = """
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), f AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM toks WHERE len(tok) > 0 GROUP BY tok
    ), agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM f
    )
    SELECT n_tokens, n_types, n_hapax,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS type_token_ratio,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
               AS hapax_share
    FROM agg
"""

ORACLES = {k: v for k, v in ORACLES.items() if v is not None}
