"""WARC source — read Common-Crawl-shaped archives into the pages table.

BASELINE.json's input_hint mandates a table of Common-Crawl-style pages
(url, warc_ts, html, ...); Common Crawl itself ships WARC files, so this
module closes the loop: a distributed WARC reader producing exactly that
schema. The reference has no WARC plane (it crawls live HTTP) — this is
engine-native surface for the 100 TB corpus story.

Spark-first shape:

* the ``binaryFile`` source is used for LISTING ONLY (``path``/``length``
  columns — column pruning means file contents are never materialized into
  a row, so there is no 2 GB-per-file ceiling);
* each task OPENS its files as streams and parses records incrementally —
  ``gzip.GzipFile`` over the raw stream handles Common Crawl's
  one-gzip-member-per-record layout with O(record) memory, never a
  whole-segment ``gzip.decompress`` (~10 GB transient for a real ~1 GB
  .warc.gz segment);
* rows are yielded as bounded Arrow batches (``batch_records`` records or
  ``batch_bytes`` of payload, whichever first), so a 5 GB segment flows
  through a worker in constant memory;
* malformed records are SKIPPED AND COUNTED against a per-file error
  budget (``max_error_ratio``) instead of aborting the whole distributed
  read — one corrupt record in a 100 TB crawl must not kill the job, but a
  file that is mostly garbage should fail loudly.

Parser scope, loudly bounded: WARC/1.0 ``response`` records with an
HTTP/1.x payload; other record types (warcinfo, request, metadata) are
skipped. Chunked transfer encoding is NOT decoded (Common Crawl stores
de-chunked payloads); the check is anchored to a real ``Transfer-Encoding``
header line (an ``X-Transfer-Encoding`` header does NOT trip it). In the
strict pure-python entrypoint it raises; in the distributed read it counts
as a skipped record.

Remote filesystems: pass ``opener`` (an ``fsspec``-style
``open(path) -> file-like``) to read s3://... paths; the default opener
handles local ``file:`` URIs.
"""

from __future__ import annotations

import contextlib
import gzip
import io
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_OUT = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("http_status", T.IntegerType(), True),
    ]
)


class WarcRecordError(ValueError):
    """A single WARC record failed to parse (framing kept where possible)."""


def _local_open(path: str):
    """Default opener: local filesystem, tolerating the ``file:`` URIs that
    Spark's binaryFile listing emits."""
    if path.startswith("file:"):
        path = path[5:]
        # file:///x and file:/x both mean /x
        while path.startswith("//"):
            path = path[1:]
    return open(path, "rb")


@contextlib.contextmanager
def _open_warc_stream(path: str, opener: Callable[[str], io.IOBase]):
    raw = opener(path)
    try:
        head = raw.read(2)
        raw.seek(0)
        if head == b"\x1f\x8b":
            # GzipFile over the raw stream decompresses INCREMENTALLY and
            # transparently crosses member boundaries — Common Crawl writes
            # one gzip member per record, so memory stays O(current record)
            with gzip.GzipFile(fileobj=raw) as gz:
                yield gz
        else:
            yield raw
    finally:
        raw.close()


def _parse_one(stream, record_types: tuple[str, ...] = ("response",)) -> dict | None:
    """Parse the next record starting after its ``WARC/`` version line has
    been consumed by the caller. Returns a row dict for records whose
    ``WARC-Type`` is in ``record_types`` (``response``: payload = body
    after the HTTP head; ``conversion``: payload = the whole block, the
    WET layout), None for skipped record types. Raises WarcRecordError on
    a malformed record (framing is preserved when content-length was
    valid)."""
    import datetime as dt

    headers: dict[str, str] = {}
    while True:
        h = stream.readline()
        if h in (b"\r\n", b"\n", b""):
            break
        k, _, v = h.decode("utf-8", "replace").partition(":")
        headers[k.strip().lower()] = v.strip()
    try:
        length = int(headers.get("content-length", "0"))
        if length < 0:
            raise ValueError
    except ValueError:
        raise WarcRecordError(f"bad Content-Length {headers.get('content-length')!r}")
    block = stream.read(length)
    if len(block) < length:
        raise WarcRecordError("truncated record block")
    if headers.get("warc-type") not in record_types:
        return None
    url = headers.get("warc-target-uri")
    ts_raw = headers.get("warc-date")
    ts = None
    if ts_raw:
        try:
            ts = dt.datetime.strptime(ts_raw, "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            raise WarcRecordError(f"bad WARC-Date {ts_raw!r}")
    if headers.get("warc-type") == "conversion":
        # WET record: the block IS the payload (no HTTP head)
        return {"url": url, "warc_ts": ts, "html": block, "http_status": None}
    # split the HTTP response head from the payload
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        sep = block.find(b"\n\n")
        head, payload = (block[:sep], block[sep + 2:]) if sep >= 0 else (b"", block)
    else:
        head, payload = block[:sep], block[sep + 4:]
    status = None
    first = head.split(b"\r\n", 1)[0].split(b"\n", 1)[0]
    parts = first.split()
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    # anchored header-name match (a substring scan trips on unrelated
    # headers like X-Transfer-Encoding)
    for line in head.lower().replace(b"\r\n", b"\n").split(b"\n"):
        if line.startswith(b"transfer-encoding:"):
            raise WarcRecordError(
                f"WARC record for {url!r} has a Transfer-Encoding header — "
                "chunked payloads are outside this parser's bounded scope "
                "(Common Crawl stores de-chunked payloads)"
            )
    return {"url": url, "warc_ts": ts, "html": payload, "http_status": status}


def _iter_with_tally(stream, strict: bool, max_errors: int | None,
                     record_types: tuple[str, ...] = ("response",)):
    """Incremental record iterator over an open (decompressed) WARC stream,
    returned with its running tally dict. ``strict=True``: the first
    malformed record raises. ``strict=False``: malformed records are
    skipped (resyncing to the next ``WARC/`` line) and counted; exceeding
    ``max_errors`` (when set) raises."""
    tally = {"errors": 0, "records": 0}

    def gen():
        while True:
            line = stream.readline()
            if not line:
                break
            if not line.startswith(b"WARC/"):
                continue
            try:
                row = _parse_one(stream, record_types)
            except WarcRecordError:
                if strict:
                    raise
                tally["errors"] += 1
                if max_errors is not None and tally["errors"] > max_errors:
                    raise
                continue
            if row is not None:
                tally["records"] += 1
                yield row

    return gen(), tally


def parse_warc_stream(
    stream, strict: bool = True, max_errors: int | None = None,
    record_types: tuple[str, ...] = ("response",),
) -> tuple[list[dict], dict]:
    """Parse a whole open stream; returns (rows, tally) where tally counts
    parsed records and skipped errors."""
    gen, tally = _iter_with_tally(stream, strict, max_errors, record_types)
    return list(gen), tally


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Pure-python strict parser over in-memory bytes (tests / small
    files). Returns one dict per ``response`` record: url, warc_ts
    (datetime), html (payload bytes), http_status."""
    if data[:2] == b"\x1f\x8b":  # gzipped (possibly multi-member)
        stream = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        stream = io.BytesIO(data)
    rows, _ = parse_warc_stream(stream, strict=True)
    return rows


def read_warc(
    spark: SparkSession,
    path: str,
    batch_records: int = 512,
    batch_bytes: int = 64 << 20,
    max_error_ratio: float = 0.01,
    opener: Callable[[str], io.IOBase] | None = None,
    record_types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """Distributed WARC read -> (url, warc_ts, html, http_status).

    binaryFile LISTING (paths only, contents pruned) -> repartition so one
    task owns few segments -> per-task incremental stream parse yielding
    bounded Arrow batches. Parallelism = number of segment files, exactly
    Common Crawl's own distribution unit (~1 GB .warc.gz each); per-task
    memory is O(batch), not O(segment).

    Error budget: a file whose skipped-record count exceeds
    ``max(8, max_error_ratio * records)`` raises (mostly-garbage input
    should fail loudly); isolated corrupt records are skipped and the
    kernel resyncs to the next ``WARC/`` boundary.
    """
    _opener = opener or _local_open
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path")  # pruned: file CONTENTS are never read into a row
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "http_status"]
        for pdf in batches:
            for p in pdf["path"]:
                rows: list[dict] = []
                nbytes = 0
                with _open_warc_stream(str(p), _opener) as stream:
                    gen, tally = _iter_with_tally(stream, strict=False,
                                                  max_errors=None,
                                                  record_types=record_types)
                    for row in gen:
                        rows.append(row)
                        nbytes += len(row["html"] or b"")
                        if len(rows) >= batch_records or nbytes >= batch_bytes:
                            yield pd.DataFrame(rows, columns=cols)
                            rows, nbytes = [], 0
                    budget = max(8.0, max_error_ratio * tally["records"])
                    if tally["errors"] > budget:
                        raise WarcRecordError(
                            f"{p}: {tally['errors']} malformed records vs "
                            f"{tally['records']} parsed — exceeds the "
                            f"per-file error budget ({budget:.0f})"
                        )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    # repartition by path so segments spread across tasks even when the
    # listing arrived as one input split
    return files.repartition("path").mapInPandas(_run, schema=WARC_OUT)


def warc_to_pages(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """WARC -> the engine's pages table shape (url, warc_ts, html, text,
    lang): 200-status responses, canonical text via the byte-identity
    extract kernel, lang via the n-gram heuristic."""
    from .kernels import extract_text
    from .textops import lang_id

    raw = read_warc(spark, path, **kwargs).filter(F.col("http_status") == 200)
    return raw.select(
        "url",
        "warc_ts",
        "html",
        extract_text(F.col("html")).alias("text"),
    ).withColumn("lang", lang_id(F.col("text")))


# ---------------------------------------------------------------------------
# WET (extracted-text) plane: the producing half of the WARC pair
# ---------------------------------------------------------------------------

def format_wet_record(url: str, ts, text: str) -> bytes:
    """One WET ``conversion`` record (WARC/1.0), byte-deterministic:
    fixed header order, CRLF line endings, Content-Length over the
    utf-8 payload, two trailing CRLFs. ``ts`` is a naive-UTC datetime
    (the reader's contract)."""
    payload = text.encode("utf-8")
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode("utf-8")
    return head + payload + b"\r\n\r\n"


WET_MANIFEST = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def write_wet(df: DataFrame, out_dir: str) -> DataFrame:
    """Write a corpus relation (url, warc_ts, text) as WET segment files —
    Common Crawl's extracted-text distribution format and the publishing
    half of ``emit_text``'s corpus table. Returns the (lazy) shard
    manifest (path, n_records, n_bytes); consuming it (collect/write)
    triggers the distributed write, exactly like ``df.write``.

    Layout matches what ``read_wet`` / Common Crawl tooling expects: one
    gzip member PER RECORD, concatenated into one ``.warc.wet.gz`` file
    per task partition — members stream-decompress record-at-a-time with
    O(record) memory, and a shard is re-split by member boundary without
    decompressing. Bytes are deterministic (fixed header order,
    ``mtime=0`` gzip members), so a re-run of the same partitioning
    yields identical shards — the resume/replay contract the rest of the
    engine keeps (same partitioning AND same intra-partition row order:
    after any join/shuffle upstream, pin order with
    ``repartition(n, key).sortWithinPartitions(key)`` — the store.py
    write rule; test_full_pipeline pins the composition). Shard names are 1:1 with task partitions
    (``wet-{partition:05d}.warc.wet.gz``); repartition upstream to
    choose shard count/size (sequence_packing's size-targeted planner
    composes here).
    """
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"wet-{pid:05d}.warc.wet.gz")
        n = 0
        nbytes = 0
        with open(path, "wb") as f:
            for pdf in batches:
                for url, ts, text in zip(
                    pdf["url"], pdf["warc_ts"], pdf["text"]
                ):
                    rec = format_wet_record(str(url), ts, str(text))
                    member = gzip.compress(rec, mtime=0)
                    f.write(member)
                    n += 1
                    nbytes += len(member)
        if n == 0:
            os.remove(path)  # empty partition -> no empty shard
            return
        yield pd.DataFrame(
            [{"path": path, "n_records": n, "n_bytes": nbytes}]
        )

    return df.select("url", "warc_ts", "text").mapInPandas(
        _run, schema=WET_MANIFEST
    )


def read_wet(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Distributed WET read -> (url, warc_ts, text): the same streaming,
    error-budgeted reader as ``read_warc`` filtered to ``conversion``
    records, payload decoded as utf-8 text."""
    raw = read_warc(spark, path, record_types=("conversion",), **kwargs)
    return raw.select(
        "url", "warc_ts", F.col("html").cast("string").alias("text")
    )


_HTTP_REASONS = {200: "OK", 301: "Moved Permanently", 302: "Found",
                 304: "Not Modified", 403: "Forbidden", 404: "Not Found",
                 500: "Internal Server Error", 503: "Service Unavailable"}


def format_warc_response(url: str, ts, payload: bytes, status: int = 200) -> bytes:
    """One WARC ``response`` record (WARC/1.0), byte-deterministic: the
    payload wrapped in a minimal de-chunked HTTP/1.1 head (the form
    Common Crawl stores), fixed header order, CRLF endings, WARC
    Content-Length over head+payload, two trailing CRLFs — the exact
    framing ``_parse_one`` reads back."""
    reason = _HTTP_REASONS.get(status, "")
    status_line = f"HTTP/1.1 {status} {reason}".rstrip()
    http_head = (
        f"{status_line}\r\n"
        "Content-Type: text/html\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode("utf-8")
    block = http_head + payload
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(block)}\r\n"
        "\r\n"
    ).encode("utf-8")
    return head + block + b"\r\n\r\n"


def write_warc(df: DataFrame, out_dir: str) -> DataFrame:
    """Write a raw-capture relation (url, warc_ts, html[, http_status])
    as WARC ``response`` segment files — the archival half the crawl's
    fetch path would publish at 10^10 URLs (WET carries extracted text;
    WARC carries the raw HTTP captures the corpus is re-derivable from).

    Same contract as :func:`write_wet`: one gzip member PER RECORD
    (stream-decompressable, member-boundary splittable), byte-
    deterministic shards (fixed header order, mtime=0), one
    ``warc-{partition:05d}.warc.gz`` per task partition, lazy manifest
    (path, n_records, n_bytes) as the return value. Missing
    ``http_status`` writes 200. Round-trips through :func:`read_warc`
    byte-identically (payload, url, ts, status)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    cols = ["url", "warc_ts", "html"]
    has_status = "http_status" in df.columns
    if has_status:
        cols.append("http_status")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"warc-{pid:05d}.warc.gz")
        n = 0
        nbytes = 0
        with open(path, "wb") as f:
            for pdf in batches:
                statuses = (
                    pdf["http_status"] if has_status else [200] * len(pdf)
                )
                for url, ts, html, status in zip(
                    pdf["url"], pdf["warc_ts"], pdf["html"], statuses
                ):
                    rec = format_warc_response(
                        str(url), ts, bytes(html),
                        200 if status is None else int(status),
                    )
                    member = gzip.compress(rec, mtime=0)
                    f.write(member)
                    n += 1
                    nbytes += len(member)
        if n == 0:
            os.remove(path)
            return
        yield pd.DataFrame(
            [{"path": path, "n_records": n, "n_bytes": nbytes}]
        )

    return df.select(*cols).mapInPandas(_run, schema=WET_MANIFEST)
