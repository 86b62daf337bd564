"""Structured Streaming surface.

The reference's crawl loop is batch rounds, not a stream (SURVEY §2.7
"not present" list) — but its *monitoring* plane is continuous (Redis
stats hashes polled by utils/monitor.py, heartbeats every 5-10 s, the
reference's scripts/run_crawler.py:99-134). The crawl itself stays
batch rounds (``CrawlRunner.run``); the streams around it are real
Structured Streaming:

* ``stream_metrics``      — readStream over the metrics/fetch-log parquet
  directory (new snapshot files appear per round) -> live per-host rates;
* ``windowed_event_agg``  — watermarked tumbling-window aggregation over an
  events stream (late data handled by the watermark), the canonical
  streaming shape a production crawl dashboard uses;
* ``stream_url_ingest``   — continuous URL ingest into the frontier of a
  live crawl;
* ``stream_corpus_dedup`` / ``stream_neardup_dedup`` /
  ``stream_quality_funnel`` / ``stream_wet_publisher`` — the continuous
  corpus plane over the crawl's emit_text output.

Tests drive these with ``trigger(availableNow=True)`` so they run
deterministically without a long-lived query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_event_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def windowed_event_agg(events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Tumbling-window counts/sums with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_to_table(stream_df: DataFrame, checkpoint: str, out_path: str) -> None:
    """Drain all available input deterministically (availableNow), append
    results to parquet — the test/bench harness for streaming ops."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)

_SESSION_STATE = T.StructType(
    [
        T.StructField("start_ts", T.DoubleType(), True),
        T.StructField("last_ts", T.DoubleType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("total", T.DoubleType(), True),
    ]
)


def sessionize(events: DataFrame, gap_seconds: int = 300, watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator: per-user session windows with an
    inactivity gap, via ``applyInPandasWithState`` (Arrow-batched state,
    per-key timeouts) — the canonical 'operator Spark lacks as a builtin
    batch-composition' case from the brief. A session closes when no event
    arrives for ``gap_seconds`` (event-time timeout); closed sessions are
    emitted with start/end/count/sum."""
    import datetime as _dt

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        if state.hasTimedOut:
            start_ts, last_ts, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [_dt.datetime.utcfromtimestamp(start_ts)],
                    "session_end": [_dt.datetime.utcfromtimestamp(last_ts)],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        # gather this batch's events, continue any open session from state,
        # and split on gaps WITHIN the batch too (a micro-batch can span
        # several sessions)
        parts = [pdf[["ts", "value"]] for pdf in pdfs]
        batch = pd.concat(parts).sort_values("ts") if parts else pd.DataFrame(columns=["ts", "value"])
        start_ts = last_ts = None
        n, total = 0, 0.0
        if state.exists:
            start_ts, last_ts, n, total = state.get
        closed = []
        for t, v in zip(batch["ts"], batch["value"]):
            tsec = t.timestamp()
            if last_ts is not None and tsec - last_ts > gap_seconds:
                closed.append((start_ts, last_ts, n, total))
                start_ts, last_ts, n, total = None, None, 0, 0.0
            if start_ts is None:
                start_ts = tsec
            last_ts = tsec
            n += 1
            total += float(v) if v == v else 0.0  # NaN-safe
        state.update((start_ts, last_ts, n, total))
        state.setTimeoutTimestamp(int((last_ts + gap_seconds) * 1000))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [_dt.datetime.utcfromtimestamp(s) for s, *_ in closed],
                "session_end": [_dt.datetime.utcfromtimestamp(e) for _, e, *_ in closed],
                "n_events": [c for *_, c, _ in closed],
                "total_value": [tv for *_, tv in closed],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_metrics(spark: SparkSession, metrics_data_dir: str) -> DataFrame:
    """Live view over the engine's metrics table directory: per-round rates
    as rounds commit (the monitor.py replacement)."""
    schema = T.StructType(
        [
            T.StructField("round", T.IntegerType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("value", T.LongType(), False),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(metrics_data_dir)
    return stream.groupBy("metric").agg(
        F.sum("value").alias("total"), F.max("round").alias("last_round")
    )


URL_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


def stream_url_ingest(
    spark: SparkSession,
    store,
    input_dir: str,
    checkpoint: str,
    cfg=None,
    max_files: int = 8,
):
    """Continuous URL ingest — the reference's Kafka url-consume loop
    (/root/reference/url_manager/kafka_url_manager.py: consumer poll ->
    dedup -> Redis ZADD) as Structured Streaming:

        file stream of (url, priority, seq)
          -> streaming dropDuplicates("url")     [state-store RFPDupeFilter
                                                  for in-flight dupes]
          -> foreachBatch: crawl.ingest_urls     [canonicalize, fingerprint,
                                                  anti-join the PERSISTENT
                                                  seen set, tee-commit
                                                  frontier + seen]

    Two dedup layers on purpose: the streaming state handles duplicates
    across micro-batches of the stream itself; the seen-set anti-join
    inside ingest_urls makes the sink idempotent against everything ever
    crawled (and against stream restarts, since it runs per batch on the
    store's committed state). Drive with trigger(availableNow=True) for
    deterministic tests; in production this runs continuously alongside
    the round loop.

    Returns the started StreamingQuery.
    """
    from .crawl import ingest_urls
    from .scheduler import CrawlConfig

    cfg = cfg or CrawlConfig()
    urls = (
        spark.readStream.schema(URL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
        .dropDuplicates(["url"])
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001
        ingest_urls(spark, store, batch_df, cfg)

    return (
        urls.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_corpus_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str,
    max_files: int = 8,
):
    """Continuous corpus dedup — the streaming half of
    ``dedup.incremental_exact_dedup``: consume a landing zone of corpus
    rows (url, text, crawl_round — the emit_text product table's shape,
    or any Common-Crawl-style drop), fingerprint the content, and append
    only first-seen documents to the deduped output table.

    Dedup layers (deliberately NOT a dropDuplicates state store — that
    keeps an ARBITRARY first row per key, destroying the deterministic
    winner the corpus contract wants):

    * in-batch: deterministic winner per fingerprint = min (crawl_round,
      url) — a partial-aggregatable min(struct), no window, map-side
      collapse of duplicate-heavy batches;
    * cross-batch + restarts: an anti-join against the OUTPUT table's
      own fingerprint column. Batches commit sequentially, so the output
      is exactly the seen-set; a replayed batch re-anti-joins to zero
      rows, making the sink idempotent with no separate state to keep
      consistent with it.

    Scale: the per-batch anti-join is O(batch) against one parquet
    column the output itself provides (bucketed/bloom-indexed at 10^10
    fingerprints, the store.py layout) — never a corpus-wide reshuffle.
    Drive with trigger(availableNow=True) for deterministic tests;
    continuously in production, alongside the crawl's round loop.

    Returns the started StreamingQuery.
    """
    from .textops import doc_fingerprint

    src = (
        spark.readStream.schema("url string, text string, crawl_round int")
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
        .withColumn("fingerprint", doc_fingerprint(F.col("text")))
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001
        batch = (
            batch_df.groupBy("fingerprint")
            .agg(
                F.min(F.struct("crawl_round", "url", "text")).alias("w")
            )
            .select(
                F.col("w.url").alias("url"),
                F.col("w.text").alias("text"),
                F.col("w.crawl_round").alias("crawl_round"),
                "fingerprint",
            )
        )
        from pyspark.errors import AnalysisException

        spark_l = batch_df.sparkSession
        try:
            # missing output = first batch ever; anything else must raise
            seen = spark_l.read.parquet(out_dir).select("fingerprint")
        except AnalysisException:
            seen = None
        if seen is not None:
            batch = batch.join(seen, "fingerprint", "left_anti")
        batch.write.mode("append").parquet(out_dir)

    return (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_funnel(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    query_name: str = "funnel_live",
    max_files: int = 8,
    **funnel_kwargs,
):
    """Live attrition funnel over a corpus landing zone — the streaming
    monitor of the continuous crawl-to-corpus pipeline: as (url, text,
    crawl_round) rows land (the emit_text product shape), every document
    is charged to its first failing rule via the SAME
    ``textops.funnel_verdict_col`` expression the batch funnel uses, and
    a running (verdict, n_docs, n_tokens) aggregate is kept in an
    in-memory table named ``query_name``.

    Scale shape: the verdict is a stateless projection inside the
    stream's scan stage; the running aggregate's state is bounded at
    <=6 rows regardless of corpus size (complete output mode over a
    6-key groupBy — the one case where complete mode is free). Shares
    are left to the reader (monitor.py-style) since a streaming window
    over the aggregate would need another shuffle per trigger.

    Returns the started StreamingQuery; read results via
    ``spark.table(query_name)``.
    """
    from .textops import funnel_verdict_col, token_count

    src = (
        spark.readStream.schema("url string, text string, crawl_round int")
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )
    marked = src.select(
        funnel_verdict_col(**funnel_kwargs).alias("verdict"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    agg = marked.groupBy("verdict").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_wet_publisher(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str,
    base_ts=None,
    max_files: int = 8,
):
    """Continuous WET publishing — the streaming half of
    ``warc.write_wet``: as corpus rows land (url, text, crawl_round —
    the emit_text product shape), each micro-batch is published as
    Common-Crawl-style WET shards under ``out_dir/batch=<id>/`` with a
    parquet shard manifest under ``out_dir/_manifest/batch=<id>/``.

    Exactly-once per batch directory: the sink clears the batch's own
    subtree before writing, and shard bytes are deterministic
    (write_wet's fixed headers + mtime=0 gzip members), so a replayed
    micro-batch after a crash reproduces its directory instead of
    duplicating records — idempotency by determinism, the same contract
    as stream_corpus_dedup's anti-join sink.

    ``warc_ts`` is derived deterministically as ``base_ts +
    crawl_round`` seconds (default base 2024-01-01), keeping replays
    byte-identical; a wall-clock capture time would break the resume
    contract the rest of the engine keeps.

    Returns the started StreamingQuery; read everything back with
    ``warc.read_wet(spark, out_dir + "/batch=*")``.
    """
    import datetime as _dt
    import os
    import shutil

    base = base_ts or _dt.datetime(2024, 1, 1)
    from .warc import write_wet

    src = (
        spark.readStream.schema("url string, text string, crawl_round int")
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001
        rows = batch_df.select(
            "url",
            (
                F.lit(base)
                + F.expr("make_interval(0,0,0,0,0,0,crawl_round)")
            ).alias("warc_ts"),
            "text",
        )
        sub = os.path.join(out_dir, f"batch={batch_id:06d}")
        man = os.path.join(out_dir, "_manifest", f"batch={batch_id:06d}")
        for p in (sub, man):  # replay -> reproduce, never accumulate
            shutil.rmtree(p, ignore_errors=True)
        write_wet(rows, sub).write.mode("overwrite").parquet(man)

    return (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_neardup_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    est_threshold: float = 0.5,
    max_files: int = 8,
):
    """Continuous NEAR-dedup — the streaming half of
    ``dedup.incremental_minhash_dedup``, the way The-Stack-v2-style
    pipelines actually run it: corpus rows (doc_id, text) land in a
    directory, each micro-batch dedups against everything already
    accepted WITHOUT re-reading accepted text — the output table itself
    carries each survivor's MinHash signature, so history costs one
    column scan of the output, never a re-shingle.

    Per batch: signatures for the BATCH only; banded equi-join against
    the output's persisted signatures (plus lower-id batch docs,
    keep-first); survivors append with their signatures. Exactly-once
    without extra state: a replayed batch re-matches its own
    previously-written signatures at estimated Jaccard 1.0 and drops to
    zero rows, so the sink is idempotent — the same
    output-table-IS-the-state argument as :func:`stream_corpus_dedup`,
    lifted from exact fingerprints to near-dup signatures.

    Scale: each trigger is O(batch) signatures + an equi-join whose
    history side is one (doc_id, signature) projection — at 10^10
    accepted docs that projection lives bucketed on (band, bucket) and
    the join co-locates. Drive with trigger(availableNow=True) in tests,
    continuously in production next to the crawl loop.

    Returns the started StreamingQuery.
    """
    from .dedup import incremental_minhash_dedup, minhash_signatures

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001
        from pyspark.errors import AnalysisException

        spark_l = batch_df.sparkSession
        try:
            # missing output = first batch ever; anything else must raise
            hist = spark_l.read.parquet(out_dir).select(
                "doc_id", "signature"
            )
        except AnalysisException:
            hist = spark_l.createDataFrame(
                [], "doc_id long, signature array<bigint>"
            )
        removed = incremental_minhash_dedup(
            batch_df,
            hist,
            n_hashes=n_hashes,
            bands=bands,
            k=k,
            est_threshold=est_threshold,
        ).select(F.col("removed_doc_id").alias("doc_id"))
        keep = batch_df.join(removed, "doc_id", "left_anti")
        out = keep.join(
            minhash_signatures(keep, n_hashes, k), "doc_id"
        ).select("doc_id", "text", "signature")
        out.write.mode("append").parquet(out_dir)

    return (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
