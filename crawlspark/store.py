"""Snapshot-versioned table store — the Iceberg contract without Iceberg jars.

The reference keeps all crawl state in Redis (ZSET frontier, SET dupefilter,
hash results — /root/reference/Douban2/settings.py:70-87,
Douban2/pipelines.py:164-188). Our engine keeps all state in versioned
tables. On a real cluster these are Iceberg tables (MERGE INTO + snapshots);
in this sandbox no Iceberg runtime jars ship with pyspark, so this module
implements the same contract natively (SURVEY.md §1.3):

* a table = a chain of immutable JSON **manifests**, each listing the data
  files (parquet directories) that make up that snapshot, plus round
  number, per-file lineage (row counts and Spark schema), and metrics;
* **commits are atomic**: manifest written to a temp file then os.rename'd;
  a CURRENT pointer file renamed last. A crash between data write and
  manifest commit leaves only unreferenced orphan files — exactly
  Iceberg's failure model;
* **MERGE is merge-on-read**: mutations append delta rows (with a
  monotone ``op_seq``); readers resolve latest-row-per-key with one
  window; ``compact()`` periodically rewrites the resolved state as a new
  base so the log never grows unbounded. Appending deltas instead of
  rewriting the table is what makes a 10^10-row frontier affordable —
  a round touches O(round) rows, not O(table);
* **time travel**: ``read(snapshot_id)`` reconstructs any past version —
  the replacement for the reference's Kafka offset reset/replay
  (/root/reference/url_manager/kafka_url_manager.py:184-208, SURVEY §2.1 Q9).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Layout of a round's tee write (crawl.run_round): one wide file set,
# partitioned by ``_table``, whose rows carry every output table's columns;
# each table's reader prunes back to its declared columns (parquet is
# columnar, so the null columns of other tables cost ~nothing on disk or at
# scan).
TEE_SCHEMA = StructType([StructField(name, dtype) for name, dtype in [
    # frontier / seen
    ("fp", StringType()), ("url", StringType()), ("host", StringType()),
    ("host_bucket", IntegerType()), ("priority", IntegerType()),
    ("depth", IntegerType()), ("seq", LongType()), ("status", StringType()),
    ("retry_count", IntegerType()), ("discovered_round", IntegerType()),
    ("op_seq", LongType()), ("first_round", IntegerType()),
    # results
    ("rank", LongType()), ("name", StringType()), ("rate", DoubleType()),
    ("num", LongType()), ("genres", ArrayType(StringType())),
    ("crawl_round", IntegerType()),
    # fetch_log
    ("round", IntegerType()), ("rn", IntegerType()),
]])


def _entry(path: str, rows: int, schema: StructType) -> dict:
    """A manifest file entry: the files' path, row count (lineage) and
    Spark schema (StructType JSON), so reads need not infer it."""
    return {"path": path, "rows": rows, "schema": schema.jsonValue()}


class SnapshotStore:
    """One versioned table rooted at ``path``.

    ``columns`` (optional) declares the table's logical column set. Data
    files may physically be *wide* (the round's single tee write carries
    the union of all table schemas — see crawl.run_round); read() prunes
    wide files down to ``columns``. Parquet is columnar, so the pruning
    happens at the scan (unread columns cost nothing).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        columns: list[str] | None = None,
        sort_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.columns = columns
        # Z-order-lite: compaction clusters rows by these columns
        # (repartition on the leading key + sortWithinPartitions), so
        # row-group min/max stats prune scans that filter on them
        self.sort_cols = sort_cols
        os.makedirs(f"{self.path}/manifests", exist_ok=True)
        os.makedirs(f"{self.path}/data", exist_ok=True)

    # -- snapshot chain -----------------------------------------------------

    def _current_id(self) -> int | None:
        cur = f"{self.path}/CURRENT"
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def manifest(self, snapshot_id: int | None = None) -> dict | None:
        sid = self._current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return None
        with open(f"{self.path}/manifests/{sid:08d}.json") as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(f"{self.path}/manifests")):
            if name.endswith(".json"):
                with open(f"{self.path}/manifests/{name}") as f:
                    out.append(json.load(f))
        return out

    def _max_manifest_id(self) -> int:
        ids = [
            int(n[:-5])
            for n in os.listdir(f"{self.path}/manifests")
            if n.endswith(".json")
        ]
        return max(ids, default=0)

    def _commit(self, files: list[dict], round_no: int, meta: dict | None) -> int:
        parent = self._current_id()
        # sid must exceed every manifest ever written (a rollback may have
        # moved CURRENT behind orphaned newer manifests)
        sid = self._max_manifest_id() + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "round": round_no,
            "files": files,  # [{path, rows, schema}] — per-partition lineage
            "meta": meta or {},
        }
        tmp = f"{self.path}/manifests/.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, f"{self.path}/manifests/{sid:08d}.json")
        tmp2 = f"{self.path}/.CURRENT-{uuid.uuid4().hex}"
        with open(tmp2, "w") as f:
            f.write(str(sid))
        os.rename(tmp2, f"{self.path}/CURRENT")
        return sid

    # -- data ops -------------------------------------------------------------

    def append(self, df: DataFrame, round_no: int, meta: dict | None = None) -> int:
        """Append a delta file-set and commit a new snapshot (old files
        kept). The only Spark jobs are the write's own (one for a
        shuffle-free frame): its Observation gives the lineage row count
        and the manifest records the written schema, so neither this
        commit nor a later read scans the files again."""
        rel = f"data/{uuid.uuid4().hex}"
        rows = self._write(df, rel)
        prev = self.manifest()
        files = (prev["files"] if prev else []) + [_entry(rel, rows, df.schema)]
        return self._commit(files, round_no, meta)

    def overwrite(self, df: DataFrame, round_no: int, meta: dict | None = None) -> int:
        """Replace table contents (compaction / base rewrite). When
        ``sort_cols`` is declared, the rewritten base is clustered:
        repartition on the leading key (co-locates a key's rows in one
        file) + sortWithinPartitions (monotone row groups -> min/max
        pruning for scans filtering on those columns)."""
        rel = f"data/{uuid.uuid4().hex}"
        if self.sort_cols and all(c in df.columns for c in self.sort_cols):
            df = df.repartition(F.col(self.sort_cols[0])).sortWithinPartitions(
                *self.sort_cols
            )
        rows = self._write(df, rel)
        return self._commit([_entry(rel, rows, df.schema)], round_no, meta)

    def _write(self, df: DataFrame, rel: str) -> int:
        """Write ``df`` as parquet under ``rel``; returns its row count,
        observed during the write (an empty write still reports 0)."""
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if "fp" in df.columns:  # D1: bloom-filter the fingerprint column
            w = w.option("parquet.bloom.filter.enabled#fp", "true")
        w.parquet(f"{self.path}/{rel}")
        return int(obs.get["n"])

    def _full_path(self, p: str) -> str:
        return p if p.startswith("/") else f"{self.path}/{p}"

    def read(self, snapshot_id: int | None = None) -> DataFrame | None:
        m = self.manifest(snapshot_id)
        if m is None or not m["files"]:
            return None
        return self._read_files(m["files"])

    def _read_files(self, files: list[dict]) -> DataFrame | None:
        # narrow files (own-schema writes, compactions) and wide files (the
        # round tee) can coexist in one snapshot; read each physical schema
        # as its own group, prune to the declared columns, union. A group
        # whose entries record their schema is read with it, so building
        # the DataFrame runs no schema-inference job; entries written before
        # manifests carried schemas are read by inference.
        if not files:
            return None
        if not self.columns and any(f.get("wide") for f in files):
            raise ValueError(f"wide files present but no declared columns at {self.path}")
        groups: dict[tuple, list[str]] = {}
        for f in files:
            key = (bool(f.get("wide")), json.dumps(f.get("schema"), sort_keys=True))
            groups.setdefault(key, []).append(self._full_path(f["path"]))
        out = None
        for (_, schema), paths in groups.items():
            reader = self.spark.read
            if schema != "null":
                reader = reader.schema(StructType.fromJson(json.loads(schema)))
            df = reader.parquet(*paths)
            if self.columns:
                df = df.select(*self.columns)
            out = df if out is None else out.unionByName(df)
        return out

    def added_since(
        self, since_id: int | None, to_id: int | None = None
    ) -> DataFrame | None:
        """Incremental (CDC-style) read: the rows APPENDED after snapshot
        ``since_id``, up to ``to_id`` (default CURRENT). The consumer
        contract of a continuously-fed table (the emit_text corpus feeding
        incremental dedup, metrics feeding a monitor): checkpoint the
        snapshot id, read added_since(ckpt) next cycle, see every appended
        row exactly once — reading O(delta) files, never O(table).

        Walks the manifest PARENT chain (rollback-safe: a rollback moves
        CURRENT behind orphaned newer manifests, and the chain never
        visits orphans). Per commit, the appended files are
        files(child) - files(parent); rewrite commits (compaction /
        rescore — content-preserving by contract, meta-flagged) replace
        the file set without appending rows, so their files are skipped.
        ``since_id=None`` means "from the beginning". Raises ValueError if
        since_id is not an ancestor of to_id or the chain's manifests were
        expired (expire_snapshots/vacuum) — the consumer must then fall
        back to a full read."""
        end = self._current_id() if to_id is None else to_id
        if end is None:
            return None
        chain: list[dict] = []
        sid: int | None = end
        while sid is not None and sid != since_id:
            try:
                m = self.manifest(sid)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot {sid} expired at {self.path}: incremental "
                    "history is gone; re-read the full table"
                ) from None
            chain.append(m)
            sid = m.get("parent_id")
        if since_id is not None and sid != since_id:
            raise ValueError(
                f"snapshot {since_id} is not an ancestor of {end} at {self.path}"
            )
        added: list[dict] = []
        for m in reversed(chain):
            pid = m.get("parent_id")
            if pid is None:
                parent_paths: set[str] = set()
            else:
                try:
                    parent_paths = {
                        f["path"] for f in (self.manifest(pid) or {}).get("files", [])
                    }
                except FileNotFoundError:
                    raise ValueError(
                        f"snapshot {pid} expired at {self.path}: incremental "
                        "history is gone; re-read the full table"
                    ) from None
            cur_paths = {f["path"] for f in m["files"]}
            if parent_paths <= cur_paths:  # append commit
                added.extend(f for f in m["files"] if f["path"] not in parent_paths)
            # else: rewrite commit (compaction/rescore) — content-preserving,
            # nothing appended; skip its files
        return self._read_files(added)

    def commit_external(
        self, abs_path: str, rows: int, schema: StructType, round_no: int,
        meta: dict | None = None,
    ) -> int:
        """Commit a snapshot referencing an already-written (wide) file set
        — the per-round tee write. No Spark job: the caller supplies the
        row count (from the write job's own Observation metrics) and the
        files' schema."""
        prev = self.manifest()
        files = (prev["files"] if prev else []) + [
            dict(_entry(abs_path, rows, schema), wide=True)
        ]
        return self._commit(files, round_no, meta)

    def append_local(
        self, rows: list[tuple], arrow_schema, round_no: int, meta: dict | None = None
    ) -> int:
        """Append tiny driver-side rows (metrics) via pyarrow directly —
        zero Spark jobs. A few KB of per-round observability never needs
        an executor."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"data/{uuid.uuid4().hex}"
        full = f"{self.path}/{rel}"
        os.makedirs(full, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema.names]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        pq.write_table(table, f"{full}/part-00000.parquet")
        prev = self.manifest()
        files = (prev["files"] if prev else []) + [
            _entry(rel, len(rows), from_arrow_schema(arrow_schema))
        ]
        return self._commit(files, round_no, meta)

    def n_delta_files(self) -> int:
        m = self.manifest()
        return len(m["files"]) if m else 0

    def expire_snapshots(self, keep_from_round: int) -> int:
        """Iceberg ``expire_snapshots`` analog: drop manifests whose round
        is below ``keep_from_round`` — plus orphans left ahead of CURRENT
        by a rollback (unreachable: resume only ever rolls back). CURRENT
        is always kept. Time travel to an expired snapshot stops working —
        the same trade Iceberg makes; data files stay on disk until
        ``FrontierStore.vacuum`` deletes the unreferenced ones."""
        cur = self._current_id()
        removed = 0
        for m in self.snapshots():
            sid = m["snapshot_id"]
            if sid == cur:
                continue
            if m["round"] < keep_from_round or (cur is not None and sid > cur):
                os.remove(f"{self.path}/manifests/{sid:08d}.json")
                removed += 1
        return removed

    def rollback_to_round(self, round_no: int) -> None:
        """Move CURRENT to the newest snapshot with round <= round_no.

        Used on resume: the frontier commit is the round's atomic commit
        point; sibling tables that got ahead (killed mid-round) are rolled
        back so the reopened state is exactly the end of the last fully
        committed round (north_rule checkpoint semantics)."""
        best = None
        for m in self.snapshots():
            if m["round"] <= round_no and (best is None or m["snapshot_id"] > best):
                best = m["snapshot_id"]
        cur = f"{self.path}/CURRENT"
        if best is None:
            if os.path.exists(cur):
                os.remove(cur)
            return
        tmp = f"{self.path}/.CURRENT-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(best))
        os.rename(tmp, cur)


class FrontierStore:
    """The crawl frontier + seen-set + results, as merge-on-read tables.

    Scrapy-redis semantics made columnar:

    * ``merge_frontier`` = ZADD of pickled requests into the
      SpiderPriorityQueue (score = -priority), D1-deduped first;
    * ``mark`` = the pop-side ZREM + per-request status, as delta rows
      (op_seq resolves last-writer-wins);
    * ``merge_seen`` = SADD into the dupefilter set, insert-if-absent;
    * ``upsert_results`` = HSET all_movies keyed by rank — idempotent
      last-writer-wins upsert (/root/reference/Douban2/pipelines.py:176-183).

    **Frontier commit protocol.** Every frontier commit — a round's
    (``commit_round`` from crawl.run_round), an ingest or seed
    (``commit_round`` from crawl.ingest_urls) and a rewrite
    (``rewrite_frontier``: compaction, crawl.rescore_frontier,
    crawl.requeue_urls) — follows one rule, applied here at commit time
    so a commit that raced another still lands consistently:

    * *round*: a round's commit lands at that round; every other commit
      lands at the frontier's current round (−1 on an empty store). No
      commit moves the round backwards — the frontier round is the chain's
      recovery point (``CrawlRunner.resume_round`` rolls siblings back to
      it and resumes at round + 1);
    * *queued count*: the manifest's ``queued_after`` is the hint read at
      commit time plus the commit's queued delta (an empty frontier counts
      as 0; on a store written before hints existed, the caller's
      ``queued_before``). It is the running number of queued rows, so a
      resume and the runner's drain check need no count job
      (``queued_after_hint``).
    """

    COMPACT_EVERY = 8  # delta files per table before a base rewrite

    FRONTIER_COLS = ["fp", "url", "host", "host_bucket", "priority", "depth",
                     "seq", "status", "retry_count", "discovered_round", "op_seq"]
    SEEN_COLS = ["fp", "url", "host_bucket", "first_round"]
    RESULTS_COLS = ["rank", "name", "rate", "num", "genres", "url", "crawl_round"]
    FETCH_LOG_COLS = ["round", "host", "url", "priority", "seq", "rn"]
    CORPUS_COLS = ["url", "text", "crawl_round"]

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.frontier = SnapshotStore(
            spark, f"{self.root}/frontier", self.FRONTIER_COLS,
            sort_cols=["host_bucket", "priority", "seq"],
        )
        self.seen = SnapshotStore(
            spark, f"{self.root}/seen", self.SEEN_COLS,
            sort_cols=["host_bucket", "fp"],  # fp point probes prune via min/max + bloom
        )
        self.results = SnapshotStore(
            spark, f"{self.root}/results", self.RESULTS_COLS,
            sort_cols=["rank"],  # R29 key lookups prune by rank row groups
        )
        self.metrics = SnapshotStore(spark, f"{self.root}/metrics")
        # crawl-order evidence: one row per fetched URL per round — the
        # columnar analog of the reference's scrapy crawl log, and the
        # artifact the order-parity tests compare against the simulator
        self.fetch_log = SnapshotStore(spark, f"{self.root}/fetch_log", self.FETCH_LOG_COLS)
        # corpus-building output (CrawlConfig.emit_text): extracted text
        # per fetched url — the engine's Common-Crawl-style product table.
        # Append-only and url-unique by construction (a url is fetched at
        # most once across the crawl: seen-set + done-marks), url-sorted
        # at compaction so downstream point reads prune row groups.
        self.corpus = SnapshotStore(
            spark, f"{self.root}/corpus", self.CORPUS_COLS, sort_cols=["url"]
        )

    # -- frontier -------------------------------------------------------------

    def frontier_log(self, snapshot_id: int | None = None) -> DataFrame | None:
        return self.frontier.read(snapshot_id)

    def frontier_state(self, snapshot_id: int | None = None) -> DataFrame | None:
        """Resolve the log to current rows: latest op_seq per fp.

        HASH AGGREGATE, not a sort-window: ``max_by(struct(cols), op_seq)``
        resolves with partial (map-side) aggregation — each input split
        pre-resolves its own rows before the exchange, so the shuffle
        carries ~distinct-fps rows instead of the whole log, and no
        per-partition sort runs at all. A row_number() window cannot
        partial-aggregate: it would shuffle the entire log every round.
        op_seq is unique per fp (insert=4(r+1)+1 happens once per fp thanks
        to the seen-set; mark=4r+2 at most once per round), so max_by is
        deterministic.
        """
        log = self.frontier_log(snapshot_id)
        if log is None:
            return None
        others = [c for c in log.columns if c != "fp"]
        resolved = log.groupBy("fp").agg(
            F.max_by(F.struct(*others), F.col("op_seq")).alias("_row")
        )
        return resolved.select("fp", *[F.col(f"_row.{c}").alias(c) for c in others])

    def merge_frontier(self, rows: DataFrame, round_no: int, meta: dict | None = None) -> int:
        sid = self.frontier.append(rows, round_no, meta)
        self._maybe_compact(self.frontier, self.frontier_state, round_no)
        return sid

    def landing_round(self, round_no: int | None = None) -> int:
        """The round a frontier commit lands at (see the class docstring):
        ``round_no`` for a round's own commit, else the current round."""
        last = self.last_committed_round()
        if round_no is None:
            return -1 if last is None else last
        if last is not None and round_no < last:
            raise ValueError(
                f"round {round_no} is behind the frontier's round {last}: "
                "committing it would roll the crawl back on resume"
            )
        return round_no

    def _queued_after(self, delta: int, queued_before: int | None = None) -> int | None:
        """The ``queued_after`` a frontier commit writes (see the class
        docstring); None when neither a hint nor a fallback exists."""
        m = self.frontier.manifest()
        base = 0 if m is None else m.get("meta", {}).get("queued_after", queued_before)
        return None if base is None else int(base) + delta

    def rewrite_frontier(self, rows: DataFrame, meta: dict, queued_delta: int = 0) -> int:
        """Replace the frontier with ``rows`` (its resolved state, rewritten)
        at the current round, carrying the queued count forward plus
        ``queued_delta``. A rewrite is read-state-then-replace with no
        compare-and-swap: run it between rounds, on the driver thread."""
        q = self._queued_after(queued_delta)
        if q is not None:
            meta = {**meta, "queued_after": q}
        return self.frontier.overwrite(rows, self.landing_round(), meta)

    # -- seen -----------------------------------------------------------------

    def seen_state(self, snapshot_id: int | None = None) -> DataFrame | None:
        return self.seen.read(snapshot_id)

    def merge_seen(self, rows: DataFrame, round_no: int) -> int:
        """Insert-if-absent. Caller anti-joins first; we still drop in-batch
        dupes (D3 analog) so the table is unique by fp."""
        return self.seen.append(rows.dropDuplicates(["fp"]), round_no)

    # -- results ---------------------------------------------------------------

    def results_state(self, snapshot_id: int | None = None) -> DataFrame | None:
        log = self.results.read(snapshot_id)
        if log is None:
            return None
        w = Window.partitionBy("rank").orderBy(F.desc("crawl_round"), F.asc("url"))
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def upsert_results(self, rows: DataFrame, round_no: int) -> int:
        return self.results.append(rows, round_no)

    # -- metrics ----------------------------------------------------------------

    def append_metrics(self, rows: DataFrame, round_no: int) -> int:
        return self.metrics.append(rows, round_no)

    def fetch_log_state(self) -> DataFrame | None:
        return self.fetch_log.read()

    def metrics_state(self) -> DataFrame | None:
        return self.metrics.read()

    def corpus_state(self) -> DataFrame | None:
        """The emit_text product table (url, text, crawl_round) —
        append-only, so state = read, like fetch_log."""
        return self.corpus.read()

    def corpus_added_since(
        self, since_id: int | None, to_id: int | None = None
    ) -> DataFrame | None:
        """Incremental corpus feed: the (url, text, crawl_round) rows the
        crawl appended after corpus snapshot ``since_id`` — the O(delta)
        input to dedup.incremental_exact_dedup / the streaming dedup
        sink, without re-reading crawl history. Checkpoint
        ``store.corpus._current_id()`` after each consumption cycle."""
        return self.corpus.added_since(since_id, to_id)

    # -- tee commit ---------------------------------------------------------------

    def shared_write_dir(self) -> str:
        """Fresh directory for a tee write (every table's rows, one write)."""
        return f"{self.root}/shared/{uuid.uuid4().hex}"

    def commit_round(
        self,
        shared_dir: str,
        table_rows: dict[str, int],
        round_no: int | None = None,
        meta: dict | None = None,
        metrics_rows: list[tuple] | None = None,
        corpus_dir: str | None = None,
        corpus_schema: StructType | None = None,
        queued_delta: int = 0,
        queued_before: int | None = None,
    ) -> int | None:
        """Commit a tee write into every table's snapshot chain, following
        the frontier commit protocol (class docstring): ``round_no`` is a
        round's own round (None for an ingest), ``queued_delta`` the
        commit's change to the queued row count and ``queued_before`` the
        fallback base on a store written before hints existed. Returns the
        ``queued_after`` written (None when there was no base).

        Input: the already-written ``shared_dir`` (partitioned by _table,
        laid out as ``TEE_SCHEMA``) plus per-table row counts from the
        write job's Observation — so the commit itself is manifest fsyncs,
        zero Spark jobs; only a compaction it triggers runs any.
        Commit order is the recovery contract: siblings first, frontier
        LAST (the frontier snapshot is the round's atomic commit point;
        resume rolls the siblings back to it).

        ``corpus_dir``/``corpus_schema``: emit_text rounds write the corpus
        files as their OWN staging dir (the text never rides the tee); the
        corpus commit references it, with its schema.
        """
        round_no = self.landing_round(round_no)
        queued_after = self._queued_after(queued_delta, queued_before)
        if queued_after is not None:
            meta = {**(meta or {}), "queued_after": queued_after}
        for name, table in (("seen", self.seen), ("results", self.results),
                            ("fetch_log", self.fetch_log)):
            if table_rows.get(name):
                table.commit_external(
                    f"{shared_dir}/_table={name}", table_rows[name], TEE_SCHEMA,
                    round_no,
                )
        if table_rows.get("corpus"):
            self.corpus.commit_external(
                corpus_dir, table_rows["corpus"], corpus_schema, round_no
            )
        if metrics_rows:
            import pyarrow as pa

            self.metrics.append_local(
                metrics_rows,
                pa.schema([("round", pa.int32()), ("metric", pa.string()),
                           ("value", pa.int64())]),
                round_no,
            )
        self.frontier.commit_external(
            f"{shared_dir}/_table=frontier", table_rows.get("frontier", 0),
            TEE_SCHEMA, round_no, meta,
        )
        # compaction for EVERY table (a delta file per round forever would
        # make the per-round read O(files)): frontier/results rewrite their
        # RESOLVED state, seen/fetch_log/metrics are append-only so their
        # compaction is a plain coalescing rewrite. Each runs only when the
        # table crosses COMPACT_EVERY delta files — amortized cost per
        # round is well under one job.
        self._maybe_compact(self.frontier, self.frontier_state, round_no)
        self._maybe_compact(self.seen, self.seen_state, round_no)
        self._maybe_compact(self.results, self.results_state, round_no)
        self._maybe_compact(self.fetch_log, self.fetch_log_state, round_no)
        self._maybe_compact(self.metrics, self.metrics_state, round_no)
        self._maybe_compact(self.corpus, self.corpus_state, round_no)
        return queued_after

    # -- maintenance --------------------------------------------------------------

    def _maybe_compact(self, store: SnapshotStore, resolver, round_no: int) -> None:
        if store.n_delta_files() >= self.COMPACT_EVERY:
            resolved = resolver()
            if resolved is None:
                return
            if store is self.frontier:
                self.rewrite_frontier(resolved, {"compaction": True})
            else:
                store.overwrite(resolved, round_no, {"compaction": True})

    def last_committed_round(self) -> int | None:
        m = self.frontier.manifest()
        return None if m is None else m["round"]

    def queued_after_hint(self) -> int | None:
        """Running queued-row count carried in the frontier manifest meta
        (the frontier commit protocol, class docstring): lets resume start
        WITHOUT a full state-resolve count job. None on stores written
        before this field existed — callers fall back to the count job."""
        m = self.frontier.manifest()
        if m is None:
            return None
        q = m.get("meta", {}).get("queued_after")
        return int(q) if q is not None else None

    def vacuum(self, keep_from_round: int | None = None) -> dict:
        """Garbage-collect storage (wide tee dirs under {root}/shared/ are
        referenced by absolute path; without this a long crawl grows
        O(rounds) even after compaction drops the references).

        Two steps, Iceberg's expire_snapshots + remove_orphan_files:

        1. expire old manifests on every table (round < keep_from_round;
           default keeps the last TWO committed rounds — the resume
           contract only ever rolls siblings back to the frontier's last
           round, so anything older is unreachable except via time travel,
           which this deliberately gives up, exactly like Iceberg);
        2. delete any shared/ tee dir and any per-table data/ dir not
           referenced by a surviving manifest. Wide files keep old shared
           dirs live as long as ANY table's current file list includes
           them (file lists are cumulative until compaction), so this
           never deletes readable data.
        """
        import shutil

        last = self.last_committed_round()
        if last is None:
            return {"removed_dirs": 0, "expired_manifests": 0}
        if keep_from_round is None:
            keep_from_round = last - 1
        keep_from_round = min(keep_from_round, last)  # never expire past HEAD
        stores = [self.frontier, self.seen, self.results, self.metrics,
                  self.fetch_log, self.corpus]
        expired = sum(s.expire_snapshots(keep_from_round) for s in stores)
        live: set[str] = set()
        for s in stores:
            for m in s.snapshots():
                for f in m["files"]:
                    live.add(os.path.realpath(s._full_path(f["path"])))
        removed = 0

        def _dead(d: str) -> bool:
            return d not in live and not any(lp.startswith(d + "/") for lp in live)

        shared_root = f"{self.root}/shared"
        if os.path.isdir(shared_root):
            for name in os.listdir(shared_root):
                d = os.path.realpath(f"{shared_root}/{name}")
                if _dead(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        for s in stores:
            droot = f"{s.path}/data"
            for name in os.listdir(droot):
                d = os.path.realpath(f"{droot}/{name}")
                if _dead(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        return {"removed_dirs": removed, "expired_manifests": expired}
