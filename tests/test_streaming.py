"""Structured Streaming tests — deterministic via availableNow trigger."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from crawlspark import streaming as st


def _write_events(spark, path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=20 * i), i % 5,
         ["click", "view"][i % 2], float(i))
        for i in range(30)
    ]
    spark.createDataFrame(rows, schema=st.EVENT_STREAM_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)


def test_windowed_agg_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src)

    stream = st.read_event_stream(spark, src)
    agg = st.windowed_event_agg(stream, window="1 minute", watermark="2 minutes")
    out = str(tmp_path / "out")
    st.run_to_table(agg, str(tmp_path / "ckpt"), out)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    want = {(r["window"]["start"], r["event_type"]): (r["n"], r["tv"]) for r in batch}
    # append-mode emits only watermark-closed windows: got ⊆ want, exact values
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: two bursts separated by more
    than the gap become two sessions per user once the watermark passes."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2):
        for burst_start in (0, 1200):  # two bursts, 20 min apart (gap=300s)
            for k in range(3):
                rows.append((eid, base + dt.timedelta(seconds=burst_start + 10 * k),
                             user, "click", 1.0))
                eid += 1
    # a late sentinel event far in the future advances the watermark so
    # both sessions time out and emit
    rows.append((eid, base + dt.timedelta(hours=2), 99, "click", 0.0))
    src = str(tmp_path / "sess_events")
    spark.createDataFrame(rows, schema=st.EVENT_STREAM_SCHEMA).write.mode(
        "overwrite"
    ).parquet(src)

    sessions = st.sessionize(st.read_event_stream(spark, src, max_files=100),
                             gap_seconds=300, watermark="0 seconds")
    out = str(tmp_path / "sess_out")
    st.run_to_table(sessions, str(tmp_path / "sess_ckpt"), out)
    got = spark.read.parquet(out).collect()
    per_user = {}
    for r in got:
        per_user.setdefault(r["user_id"], []).append(r)
    for user in (1, 2):
        assert user in per_user, f"user {user} sessions missing: {got}"
        for s in per_user[user]:
            assert s["n_events"] == 3
            assert s["total_value"] == 3.0
            assert (s["session_end"] - s["session_start"]).total_seconds() == 20


def test_stream_metrics_over_store(spark, tmp_path):
    from crawlspark.schema import METRICS
    from crawlspark.store import FrontierStore

    fs = FrontierStore(spark, str(tmp_path / "store"))
    for r in range(3):
        fs.append_metrics(
            spark.createDataFrame([(r, "fetched", 10 * (r + 1))], schema=METRICS), r
        )
    live = st.stream_metrics(spark, str(tmp_path / "store/metrics/data/*"))
    q = (
        live.writeStream.outputMode("complete")
        .format("memory")
        .queryName("m")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["metric"]: (r["total"], r["last_round"]) for r in spark.sql("select * from m").collect()}
    assert rows["fetched"] == (60, 2)


def test_stream_url_ingest_dedup_and_resume(spark, tmp_path):
    """Streaming URL ingest (Q5-Q7 Kafka-consume analog): duplicates across
    stream files land once; already-seen URLs are ignored; a second
    trigger with new files appends only the new; ingested URLs are then
    crawlable."""
    from crawlspark.crawl import ingest_urls
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS
    from crawlspark.streaming import URL_STREAM_SCHEMA, stream_url_ingest
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=1, per_list=4, seed=11))
    pages = spark.createDataFrame(site["pages"], schema=PAGES)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1)
    runner = CrawlRunner(spark, str(tmp_path / "store"), cfg)
    runner.init(spark.createDataFrame(site["seeds"], schema=SEEDS))
    seeded = runner.queued_count()

    # stream input: 2 files; a cross-file duplicate AND an already-seeded url
    page_urls = [p["url"] for p in site["pages"]]
    seed_url = site["seeds"][0]["url"]
    extra = [u for u in page_urls if u != seed_url][:3]
    in_dir, cp = str(tmp_path / "in"), str(tmp_path / "cp")
    spark.createDataFrame(
        [(extra[0], 1, 10), (extra[1], 0, 11), (seed_url, 1, 12)], schema=URL_STREAM_SCHEMA
    ).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(extra[0], 1, 13), (extra[2], 0, 14)], schema=URL_STREAM_SCHEMA
    ).write.mode("append").parquet(in_dir)

    q = stream_url_ingest(spark, runner.store, in_dir, cp, cfg)
    q.awaitTermination()
    assert runner.queued_count() == seeded + 3  # dupe + seen url dropped

    # restart with one genuinely new file: checkpoint skips the old ones
    spark.createDataFrame([(extra[0], 1, 15)], schema=URL_STREAM_SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)  # already ingested -> seen anti-join drops it
    q2 = stream_url_ingest(spark, runner.store, in_dir, cp, cfg)
    q2.awaitTermination()
    assert runner.queued_count() == seeded + 3

    # the ingested URLs crawl normally
    res = runner.run(pages, robots)
    assert res.total_fetched > 0

    # batch-side idempotence of the underlying merge
    out = ingest_urls(
        spark, runner.store,
        spark.createDataFrame([(extra[0], 1, 99)], schema=URL_STREAM_SCHEMA), cfg,
    )
    assert out["ingested"] == 0


def test_stream_url_ingest_into_live_crawl(spark, tmp_path, monkeypatch):
    """Concurrent ingest into a live CrawlRunner.run: stream_url_ingest
    availableNow triggers commit on the LIVE chain at two points, hooked
    via crawlspark.runner.run_round —

    * between the loop's queued-hint read and round 1's execution: the
      round's stale queued_before must fold the ingested rows in;
    * right after the draining round's commit, before the loop reads its
      queued_after == 0: only the runner's post-drain hint re-check can
      see those rows.

    Either way the ingested rows must stay counted, crawl to a terminal
    state, and leave the final counts exact."""
    from crawlspark import runner as runner_mod
    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS, STATUS_QUEUED
    from crawlspark.streaming import URL_STREAM_SCHEMA, stream_url_ingest
    from crawlspark.synth import SiteSpec, generate_site

    site = generate_site(SiteSpec(n_hosts=2, lists_per_host=2, per_list=4,
                                  dead_links_per_host=0, seed=23))
    pages = spark.createDataFrame(site["pages"], schema=PAGES)
    seeds = spark.createDataFrame(site["seeds"], schema=SEEDS)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    cfg = CrawlConfig(round_wall=1e9, per_host_cap=1000, max_depth=1,
                      max_retries=1)

    # baseline: an undisturbed run fixes the expected fetch count
    ref = CrawlRunner(spark, str(tmp_path / "ref"), cfg)
    ref.init(seeds)
    ref_res = ref.run(pages, robots)

    # ingest input: urls NOT in the corpus (they pop, miss, exhaust), one
    # parquet file per trigger; the shared checkpoint makes each trigger
    # consume only the file written since the last one
    host = site["pages"][0]["url"].split("/")[2]
    in_dir, ingest_cp = str(tmp_path / "in"), str(tmp_path / "ingest_cp")
    injected = {
        when: [f"https://{host}/stream-injected-{when}-{i}" for i in range(3)]
        for when in ("before", "after")
    }

    def ingest(store, when):
        spark.createDataFrame(
            [(u, 1, 10**9 + i) for i, u in enumerate(injected[when])],
            schema=URL_STREAM_SCHEMA,
        ).write.mode("append").parquet(in_dir)
        stream_url_ingest(spark, store, in_dir, ingest_cp, cfg).awaitTermination()
        fired.append(when)

    root = str(tmp_path / "live")
    runner = CrawlRunner(spark, root, cfg)
    runner.init(seeds)

    real_run_round = runner_mod.run_round
    fired = []

    def interleaved(spark_, store, pages_, robots_, cfg_, round_no, **kw):
        if round_no == 1 and not fired:
            # the loop already read queued_before (kw): the stale-hint window
            ingest(store, "before")
        c = real_run_round(spark_, store, pages_, robots_, cfg_, round_no, **kw)
        if fired == ["before"] and c.get("queued_after") == 0:
            # committed after the round's commit, before the loop sees the
            # round's queued_after == 0
            ingest(store, "after")
        return c

    monkeypatch.setattr(runner_mod, "run_round", interleaved)
    res = runner.run(pages, robots)
    monkeypatch.setattr(runner_mod, "run_round", real_run_round)
    assert fired == ["before", "after"], fired

    # every corpus page fetched (== undisturbed baseline); one extra round
    # pops the rows ingested after the drain; frontier fully drained with
    # hint == true count == 0; injected urls at a terminal state
    assert res.total_fetched == ref_res.total_fetched
    assert res.rounds == ref_res.rounds + 1
    assert runner.queued_count() == 0
    assert runner.store.queued_after_hint() == 0
    all_injected = set(injected["before"]) | set(injected["after"])
    st_rows = {
        r["url"]: r["status"]
        for r in runner.store.frontier_state().collect()
        if r["url"] in all_injected
    }
    assert set(st_rows) == all_injected
    assert all(s != STATUS_QUEUED for s in st_rows.values())
    assert runner.seen_urls() >= all_injected | ref.seen_urls()


def test_stream_corpus_dedup_keeps_deterministic_winner(spark, tmp_path):
    src = str(tmp_path / "landing")
    out = str(tmp_path / "corpus_dedup")
    ckpt = str(tmp_path / "ckpt_cd")
    rows = [
        ("http://a/1", "same text", 2),
        ("http://a/2", "same text", 1),   # winner: lowest (round, url)
        ("http://b/1", "other text", 1),
    ]
    spark.createDataFrame(rows, "url string, text string, crawl_round int") \
        .write.mode("append").parquet(src)
    st.stream_corpus_dedup(spark, src, out, ckpt).awaitTermination()
    got = {r["fingerprint"]: (r["url"], r["crawl_round"])
           for r in spark.read.parquet(out).collect()}
    assert len(got) == 2
    assert ("http://a/2", 1) in got.values() and ("http://b/1", 1) in got.values()

    # a later drop: dup of existing content + one new doc -> only the new appends
    spark.createDataFrame(
        [("http://c/1", "same text", 3), ("http://c/2", "fresh text", 3)],
        "url string, text string, crawl_round int",
    ).write.mode("append").parquet(src)
    st.stream_corpus_dedup(spark, src, out, ckpt).awaitTermination()
    after = {r["url"] for r in spark.read.parquet(out).collect()}
    assert after == {"http://a/2", "http://b/1", "http://c/2"}


def test_stream_corpus_dedup_restart_idempotent(spark, tmp_path):
    src = str(tmp_path / "landing2")
    out = str(tmp_path / "corpus_dedup2")
    spark.createDataFrame(
        [("http://a/1", "t1", 1), ("http://a/2", "t2", 1)],
        "url string, text string, crawl_round int",
    ).write.mode("append").parquet(src)
    st.stream_corpus_dedup(spark, src, out, str(tmp_path / "c1")).awaitTermination()
    n1 = spark.read.parquet(out).count()
    # a FRESH checkpoint replays the whole landing zone: the output
    # anti-join must absorb the replay with zero new rows
    st.stream_corpus_dedup(spark, src, out, str(tmp_path / "c2")).awaitTermination()
    assert spark.read.parquet(out).count() == n1 == 2


def test_stream_quality_funnel_matches_batch_and_accumulates(spark, tmp_path):
    src = str(tmp_path / "landing_qf")
    ckpt = str(tmp_path / "ckpt_qf")
    batch1 = [
        ("http://a/1", "one two", 0),                             # too_short
        ("http://a/2", " ".join(f"w{i}" for i in range(30)), 0),  # kept
    ]
    spark.createDataFrame(
        batch1, "url string, text string, crawl_round int"
    ).write.mode("append").parquet(src)
    st.stream_quality_funnel(
        spark, src, ckpt, query_name="qf_t",
        min_tokens=10, min_quality=0.0, min_distinct_ratio=0.1,
    ).awaitTermination()
    got = {r["verdict"]: (r["n_docs"], r["n_tokens"])
           for r in spark.table("qf_t").collect()}
    assert got == {"too_short": (1, 2), "kept": (1, 30)}

    # the same rows through the BATCH funnel charge identical rules
    from crawlspark import textops
    bat = {r["verdict"]: (r["n_docs"], r["n_tokens"])
           for r in textops.quality_funnel(
               spark.createDataFrame(batch1, "url string, text string, crawl_round int"),
               min_tokens=10, min_quality=0.0, min_distinct_ratio=0.1,
           ).collect()}
    assert {k: v for k, v in bat.items()} == got

    # a later drop accumulates into the running totals (state carries
    # across restarts via the checkpoint)
    spark.createDataFrame(
        [("http://b/1", " ".join(["dup"] * 40), 1)],              # repetitive
        "url string, text string, crawl_round int",
    ).write.mode("append").parquet(src)
    st.stream_quality_funnel(
        spark, src, ckpt, query_name="qf_t2",
        min_tokens=10, min_quality=0.0, min_distinct_ratio=0.1,
    ).awaitTermination()
    got2 = {r["verdict"]: (r["n_docs"], r["n_tokens"])
            for r in spark.table("qf_t2").collect()}
    assert got2 == {"too_short": (1, 2), "kept": (1, 30), "repetitive": (1, 40)}


def test_stream_wet_publisher_and_readback(spark, tmp_path):
    from crawlspark import warc

    src = str(tmp_path / "landing_wet")
    out = str(tmp_path / "wet_pub")
    ckpt = str(tmp_path / "ckpt_wet")
    rows = [("http://a/1", "alpha body", 0), ("http://a/2", "beta body", 1)]
    spark.createDataFrame(rows, "url string, text string, crawl_round int") \
        .write.mode("append").parquet(src)
    st.stream_wet_publisher(spark, src, out, ckpt).awaitTermination()
    back = warc.read_wet(spark, out + "/batch=*")
    got = {r.url: (r.text, r.warc_ts) for r in back.collect()}
    import datetime as dt
    assert got == {
        "http://a/1": ("alpha body", dt.datetime(2024, 1, 1, 0, 0, 0)),
        "http://a/2": ("beta body", dt.datetime(2024, 1, 1, 0, 0, 1)),
    }
    # manifest totals match record count
    man = spark.read.parquet(out + "/_manifest/batch=*")
    assert man.agg({"n_records": "sum"}).collect()[0][0] == 2

    # a second drop publishes a NEW batch dir; earlier shards untouched
    import glob
    before = sorted(glob.glob(out + "/batch=*/*.warc.wet.gz"))
    spark.createDataFrame(
        [("http://c/9", "gamma", 2)],
        "url string, text string, crawl_round int",
    ).write.mode("append").parquet(src)
    st.stream_wet_publisher(spark, src, out, ckpt).awaitTermination()
    after = sorted(glob.glob(out + "/batch=*/*.warc.wet.gz"))
    assert set(before) < set(after)
    assert warc.read_wet(spark, out + "/batch=*").count() == 3


def test_stream_neardup_dedup_cross_batch_and_replay(spark, tmp_path):
    src = str(tmp_path / "landing_nd")
    out = str(tmp_path / "neardup_out")
    rows1 = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),  # in-batch dup of 1
        (3, "one two three four five six"),
    ]
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    st.stream_neardup_dedup(
        spark, src, out, str(tmp_path / "ck1"), est_threshold=0.5
    ).awaitTermination()
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}
    # signatures ride the output table
    sig = spark.read.parquet(out).select("signature").first()[0]
    assert len(sig) == 8

    # batch 2: near-dup of an ACCEPTED doc (vs signatures only, no text
    # re-read) + one fresh doc
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),
         (11, "zz yy xx ww vv uu tt")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    st.stream_neardup_dedup(
        spark, src, out, str(tmp_path / "ck1"), est_threshold=0.5
    ).awaitTermination()
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 11}

    # fresh checkpoint replays everything: every replayed doc matches its
    # own persisted signature at est 1.0 -> zero new rows (idempotent)
    st.stream_neardup_dedup(
        spark, src, out, str(tmp_path / "ck2"), est_threshold=0.5
    ).awaitTermination()
    assert spark.read.parquet(out).count() == 3
