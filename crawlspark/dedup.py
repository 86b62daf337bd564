"""Deduplication operators over a documents corpus — exact through near-dup.

The crawl plane dedups *URLs* (the seen-set anti-join, SURVEY §2.2); a
training-data pipeline must also dedup *content*. Five operators, each
designed scale-first:

* exact_dedup        — hash-groupBy, one shuffle on md5(text);
* ngram_jaccard      — shingle -> inverted-index self-join -> Jaccard;
  hot shingles capped (stop-shingle filter) so the join can't quadratically
  explode on boilerplate — the standard trick at corpus scale;
* minhash_lsh        — MinHash signatures + banded LSH bucketing: the
  O(n)-ish near-dup path for 10^9+ docs; candidate pairs verified by real
  Jaccard;
* simhash            — 64-bit SimHash from shingle md5s, hamming-ball
  grouping by band equality;
* embedding_near_dup — cosine >= threshold over an embedding column (see
  similarity.py for the ANN machinery).

MinHash hash family: h_i(s) = (a_i * x + b_i) mod p over the Mersenne
field p = 2^31-1, with x = the first 8 hex digits of md5(shingle) reduced
mod p. Operands stay < 2^31 so a_i * x < 2^62 never overflows a long even
under Spark 4's default ANSI mode — and md5 is bit-identical in DuckDB,
so the signature computation itself is oracle-checkable in SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import spread_input
from .textops import doc_fingerprint, shingles_col, tokens_col

_P = (1 << 31) - 1  # Mersenne prime; keeps a*x+b inside signed-long range

# Per-fold gram cap for the vectorized simhash64 kernel (~128 B/gram peak ->
# ~256 MB per fold). Module-level so tests can shrink it to force chunking.
MAX_FOLD_GRAMS = 2_000_000


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs — seeded LCG, no wall-clock."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def _shingle_hash_col(shingle) -> "F.Column":
    """Int in [0, 2^31-1) from md5 hex — reproducible in DuckDB via the
    same md5; reduced mod p so universal-hash products fit in a long."""
    return F.pmod(
        F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long"), F.lit(_P)
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact content dedup: canonical representative = min doc_id per
    md5-fingerprint. One hash-aggregate shuffle; no sort."""
    # NOT spread: md5+normalize is cheap per byte — round-robin
    # repartition of the text column costs more than it parallelizes at
    # every measured SF (sf0.1: 0.28 s plain vs 0.72 s spread; sf1.0:
    # 0.65 vs 0.81). spread_input stays for genuinely CPU-heavy
    # derivations (shingling, simhash, cosine).
    return (
        documents.select(doc_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def shingle_index(documents: DataFrame, k: int = 3, max_df: int | None = None) -> DataFrame:
    """Inverted index (shingle -> doc) with optional stop-shingle cap:
    shingles occurring in more than ``max_df`` docs carry no near-dup
    signal but quadratic join cost — drop them (C4-style boilerplate
    guard). Distinct per (doc, shingle)."""
    # per-(doc, shingle) distinct is computed INSIDE each row's shingle
    # array (array_distinct) before the explode: doc_id is the table's
    # primary key, so within-doc dedup IS the full distinct — saving a
    # corpus-wide shuffle+aggregate of the exploded index (the largest
    # relation in every consumer's plan)
    idx = spread_input(documents).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(F.col("text"), k))).alias("shingle"),
    )
    if max_df is not None:
        # stop-shingle cap as a COUNT WINDOW on shingle, not a
        # df-aggregate + anti-join-back: that shape references the
        # exploded index on BOTH sides (agg input + join probe), so the
        # shingle explode executes twice. One shuffle of the index,
        # single consumer, the same shape as ngram_jaccard_pairs. (No
        # broadcast hint: the stop-shingle population is corpus-derived,
        # not provably small.)
        idx = (
            idx.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    return idx


def ngram_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Near-dup pairs by exact word-k-gram Jaccard.

    Two physical strategies, same semantics:

    * ``max_df`` set (the at-scale configuration): build each shingle's
      POSTING LIST once (sorted doc array, capped at max_df rows), emit
      pairs as (head, tail-array) rows shuffled by the head doc so the
      co-occurrence count aggregates locally — the index subtree is
      computed ONCE and no self-join runs at all. Arrays are bounded by
      max_df, so no per-row blowup.
    * ``max_df`` None: classic inverted-index self-join on shingle —
      posting arrays would be unbounded on boilerplate, the shuffle join
      handles arbitrary df (but is quadratic on hot shingles; always set
      max_df at corpus scale).

    Emits (doc_a < doc_b, n_inter, jaccard >= threshold).
    """
    # Carried-size design (a separate `sizes` table would make the posting
    # subtree feed both `sizes` and `inter` and recompute per consumer —
    # 11 static exchanges): each doc's surviving-shingle count n_sh is attached to the index rows
    # ONCE (a count window on doc_id), travels inside the posting arrays,
    # and comes out on every emitted pair — so jaccard needs NO post-join
    # against a sizes table.
    # The stop-shingle cap is a COUNT WINDOW on shingle, not a
    # df-aggregate + join-back. That shape consumes the exploded index
    # twice, forcing a MEMORY_AND_DISK persist whose blocks the
    # CacheManager holds for the session lifetime, and at 100 TB it would
    # cache the full exploded index. The window keeps the tree LINEAR — one pass over the index, one
    # shuffle on shingle, no cache, no join — and is spill-safe (WindowExec
    # buffers one shingle's group via ExternalAppendOnlyUnsafeRowArray,
    # which spills; a boilerplate shingle's rows are dropped immediately
    # after). df=1 shingles (at corpus scale the MAJORITY of the index)
    # are dropped before the posting build — they emit no pairs, but only
    # after n_sh counts them (n_sh = ALL kept shingles of the doc).
    # Measured sf1.0 hot: result-identical to the join-back shape, same
    # best time (~11 s vs ~10-12 s) without its cache-churn variance
    # (spikes to 50-60 s on repeat invocation from leaked cache entries).
    idx = shingle_index(documents, k, None)
    if max_df is not None:
        kept = idx.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("df") <= max_df)
        sized = kept.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
        ).filter(F.col("df") >= 2)
        posting = sized.groupBy("shingle").agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs")
        )
        # Pair emission. Measured at sf1.0 (50k docs): the pair
        # population is ~71M of which ~67M are DISTINCT (docs share 1-2
        # shingles with almost every co-bucketed doc), so map-side partial
        # aggregation collapses nothing and an exchange of pair rows
        # carries ~67M 40-byte rows. Instead, pairs stay PACKED IN ARRAYS
        # through the one exchange (guide §2.3 "shuffle keys and metadata
        # instead of payloads", §8): each posting element i becomes one row
        # (doc_a, n_a, rest = the sorted tail of the posting), hashed by
        # doc_a — the same 71M (doc_id, n_sh) structs cross as array
        # payload of 2.6M rows (~16 B/pair, no per-pair row overhead).
        # Every occurrence of a pair (a, b) lands in a's partition, so the
        # post-exchange explode + count aggregate is LOCAL: hashpartitioning
        # (doc_a) satisfies the groupBy's clustering and no second exchange
        # exists. No nested-loop HOFs (transform+slice per element,
        # interpreted) — posexplode/slice/explode all codegen. Best-of-N
        # at sf1.0 hot: 11.3 s (pair-row shape) -> 6.6 s; single pair
        # exchange ~1.1 GB of array payload vs ~2.7 GB of pair rows.
        e1 = posting.select(F.posexplode("docs").alias("pos", "x"), F.col("docs"))
        head = e1.select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.n_sh").alias("n_a"),
            F.slice("docs", F.col("pos") + 2, F.size("docs")).alias("rest"),
        ).filter(F.size("rest") > 0)
        pairs = (
            head.repartition("doc_a")
            .select("doc_a", "n_a", F.explode("rest").alias("y"))
            .select(
                "doc_a",
                F.col("y.doc_id").alias("doc_b"),
                "n_a",
                F.col("y.n_sh").alias("n_b"),
            )
        )
    else:
        sized = idx.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
        )
        a = sized.select(
            F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a")
        )
        b = sized.select(
            F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b")
        )
        pairs = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "n_a", "n_b")
        )
    inter = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count("*").alias("n_inter")
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def minhash_signatures(documents: DataFrame, n_hashes: int = 32, k: int = 3) -> DataFrame:
    """MinHash signature per doc: for each hash i, min over shingles of
    (a_i * x + b_i) mod p.

    Computed entirely IN-ROW — the signature is a per-document map, so
    an explode + groupBy(doc_id) (2.6M exploded rows + a shuffle at
    sf1.0) is pure overhead: each doc's min folds over its own shingle
    array (one hash pass via transform, then one aggregate per hash
    component — longs only, the md5 runs once per shingle). ZERO shuffles
    at any scale. Requires doc_id unique (the documented PK contract;
    this emits a row per input row, it does not merge duplicate doc_ids).
    Measured sf1.0 hot best-of-N: 2.02 s (explode shape) -> 0.38 s, rows
    identical.
    """
    params = minhash_params(n_hashes)
    # NOT spread here (measured A/B): the bare-signature consumer (t05) loses
    # ~0.15 s to the repartition analysis/exchange; LSH callers that
    # MATERIALIZE the signatures spread their input themselves before
    # calling (minhash_lsh_pairs, lsh_estimate_audit,
    # incremental_minhash_dedup) — there the in-row fold (an md5 per
    # shingle + n_hashes modmuls per element) is the CPU term.
    # init larger than any (a*x+b) mod p value (< 2^31); shingles_col never
    # yields an empty array, so the init never survives to the output
    xs = F.transform(
        F.array_distinct(shingles_col(F.col("text"), k)),
        lambda s: _shingle_hash_col(s),
    )
    d = documents.select("doc_id", xs.alias("xs"))
    mins = [
        F.aggregate(
            "xs",
            F.lit(1 << 62),
            lambda acc, x: F.least(acc, (x * F.lit(a) + F.lit(b)) % F.lit(_P)),
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = d.select("doc_id", *mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, verified by true Jaccard.

    Scale path for near-dup at 10^9+ docs: signatures are fixed-width,
    banding makes candidate generation an equi-join on (band_id, band
    hash) — no quadratic blowup; only candidates pay the verify cost.
    """
    rows_per_band = n_hashes // bands
    # spread the scan before the in-row signature fold (the md5-per-
    # shingle CPU term; no-op at corpus scale), then...
    sig = minhash_signatures(spread_input(documents), n_hashes, k)
    # ...materialize the signature table before the banded self-join —
    # both join sides reference the buckets subtree, so without this the
    # in-row MinHash (an md5 per shingle per doc) executed TWICE, and it
    # is the dominant cost of candidate generation (measured sf0.1:
    # cand-only 5.4 s of t25's 8.0 s; same pathology t12 fixed for
    # simhash64_pairs_banded). n_hashes longs/doc — same size class as
    # the banked signature tables this module already checkpoints.
    spark = documents.sparkSession
    sig = (
        sig.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else sig.localCheckpoint(eager=True)
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[
                    F.col("signature")[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ])
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard_pairs(documents, cand, k, threshold, max_df)


def verify_jaccard_pairs(
    documents: DataFrame,
    cand: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    cand_materialized: bool = False,
) -> DataFrame:
    """Exact Jaccard restricted to a candidate pair set — the verify half
    of LSH, costed by |candidates|, never corpus².

    Plan: semi-join the shingle inverted index down to docs that appear in
    some candidate pair, then intersection = cand ⋈ idx(doc_a) ⋈ idx(doc_b,
    shingle) — every join an equi-join whose left side is bounded by
    |cand| x shingles-per-doc. No full index self-join anywhere (that
    would recompute all-pairs Jaccard corpus-wide, defeating LSH).
    """
    # materialize the candidate set once — it appears THREE times in
    # this plan (both arms of cand_docs plus the intersection join), and
    # for LSH callers it is the banded self-join, the expensive half of
    # the operator. Same checkpoint discipline as dup_clusters: lineage
    # truncated, blocks released with the result.
    spark = documents.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    # cand_materialized: callers that already checkpointed the candidate
    # frame (lsh_estimate_audit) skip the redundant re-materialization
    if not cand_materialized:
        cand = _ckpt(cand)
    idx = shingle_index(documents, k, max_df)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    idx_c = idx.join(cand_docs, "doc_id", "left_semi")
    # carried sizes (same trick as ngram_jaccard_pairs): n_sh rides the
    # index rows through the intersection joins, so no sizes table and no
    # post-joins. The semi-joined sized index feeds BOTH join sides, so it
    # too is materialized once (otherwise it is recomputed per side,
    # doubling the shingle pipeline).
    sized = _ckpt(
        idx_c.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    )
    a_idx = sized.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    b_idx = sized.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    inter = (
        cand.join(a_idx, "doc_a")
        .join(b_idx, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components by
    iterative min-label propagation (the alternating large-star/small-star
    family, simplified). Each iteration is one equi-join + one hash agg —
    two shuffles — and converges in O(component diameter) iterations; dup
    clusters in practice are shallow (diameter 2-4), so this terminates in
    a handful of rounds even at 10^9 docs. Raises if ``max_iters`` passes
    without convergence (loud, not silent truncation).

    Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) where
    cluster_id = min doc id reachable — only for docs in >= 1 pair.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
    )
    spark = pairs.sparkSession
    # Lineage truncation per iteration: reliable checkpoint when a
    # checkpoint dir is configured (survives executor loss — required for
    # the 10^9-doc scale claim; set spark.sparkContext.setCheckpointDir),
    # else localCheckpoint with the caveat that executor loss aborts the
    # job (lineage is truncated, blocks unreplicated). Each iteration
    # unpersists the PREVIOUS iteration's blocks once the new labels are
    # materialized — without that, 25 iterations pin 25 copies of the
    # label table in storage memory.
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    # materialize the EDGE table once. edges is a lazy plan over the
    # pair generator (for t13-class callers the full shingle->posting->
    # pair pipeline); without this every iteration's join and the final
    # convergence probe re-execute that whole subtree — measured at
    # sf0.1 the t13 gate spent ~4x the pair-pipeline cost in the loop.
    # After the checkpoint each iteration touches only the bounded
    # (2|pairs|)-row edge relation; blocks are released on return (the
    # returned labels' lineage is truncated by its own checkpoint, so
    # unpersisting edges cannot force recompute).
    edges = _ckpt(edges)
    try:
        init = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("cluster_id", F.col("doc_id"))
        )
        # convergence probe via the LABEL-SUM invariant instead of a
        # per-iteration join, for INTEGRAL node ids. Each new label is
        # min(own, neighbors') with own always a candidate, so labels are
        # monotone non-increasing per node — the iteration is converged
        # iff sum(cluster_id) is unchanged. The sum is exact only when the
        # ids are integers: a fractional id cast to decimal(38,0) rounds
        # (1.2 and 1.1 both become 1), so fractional ids keep the join
        # probe. decimal(38,0) so the sum cannot overflow long at 10^9+
        # docs under ANSI mode; try_sum turns a decimal overflow (huge
        # decimal ids) into a null, and a null sum never counts as
        # converged — that iteration falls back to the join probe. In
        # localCheckpoint mode the sum rides the checkpoint job itself as
        # an Observation metric (zero extra jobs per iteration;
        # CollectMetrics fires on Dataset.localCheckpoint's action); a
        # reliable checkpoint materializes through the RDD API where
        # observe metrics are not guaranteed, so that mode reads the sum
        # from the materialized blocks with a scalar agg instead.
        # Non-numeric ids (t85's host strings) have no sound scalar
        # invariant either — they always take the join probe
        # (host-bounded tables).
        from pyspark.sql import Observation
        from pyspark.sql.types import DecimalType, IntegralType

        id_type = init.schema["cluster_id"].dataType
        integral = isinstance(id_type, IntegralType) or (
            isinstance(id_type, DecimalType) and id_type.scale == 0
        )
        _sum_col = F.try_sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")

        def _ckpt_with_sum(df: DataFrame):
            if reliable:
                ck = _ckpt(df)
                return ck, ck.agg(_sum_col).collect()[0][0]
            obs = Observation()
            ck = df.observe(obs, _sum_col).localCheckpoint(eager=True)
            return ck, obs.get["s"]

        def _unchanged(new: DataFrame, old: DataFrame) -> bool:
            return (
                new.alias("n")
                .join(old.alias("o"), "doc_id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .limit(1)
                .count()
            ) == 0

        if integral:
            labels, prev_sum = _ckpt_with_sum(init)
        else:
            labels, prev_sum = _ckpt(init), None
        for _ in range(max_iters):
            # candidate label per node: min of own label and neighbors'
            nbr = (
                edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
                .select(F.col("dst").alias("doc_id"), "cluster_id")
            )
            merged = (
                labels.unionByName(nbr)
                .groupBy("doc_id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
            if integral:
                new_labels, new_sum = _ckpt_with_sum(merged)
                if new_sum is None or prev_sum is None:
                    converged = _unchanged(new_labels, labels)
                else:
                    converged = new_sum == prev_sum
                prev_sum = new_sum
            else:
                new_labels = _ckpt(merged)
                converged = _unchanged(new_labels, labels)
            labels.unpersist()  # previous iteration's blocks are dead now
            labels = new_labels
            if converged:
                return labels
    finally:
        edges.unpersist()
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iters} iterations — "
        "component diameter exceeds the bound; raise max_iters"
    )


def simhash_col(text, k: int = 3, bits: int = 16):
    """SimHash over word-k-gram shingles: per bit, sign of the sum of
    (+1/-1) votes from each shingle's md5-derived hash. Pure column
    algebra (aggregate over the shingle array), no UDF, no shuffle.

    ONE aggregate pass with a packed accumulator instead of per-bit
    aggregates — those reference the hash array expression once PER BIT,
    and higher-order functions run interpreted (no codegen, no
    common-subexpression elimination), so every row would tokenize,
    shingle and md5-hash its text ``bits`` times over. Here: per-bit one
    counts (ones_i) accumulate in 32-bit lanes packed two-per-long (bit i
    in the low lane of struct field i%8, bit i+8 in the high lane), and
    sign(votes_i) > 0 == 2*ones_i > n. The shingle count n comes from
    token arithmetic (no second array build). Identical output by
    construction; measured ~9x on the t06 pipeline. ``bits`` <= 16.
    """
    if bits > 16:
        raise ValueError("simhash_col supports bits <= 16 (use simhash64_col)")
    hashes = F.transform(shingles_col(text, k), lambda s: _shingle_hash_col(s))
    t = tokens_col(text)
    n = F.when(F.size(t) >= k, F.size(t) - k + 1).otherwise(F.lit(1)).cast("long")
    lanes = min(8, bits)

    def contrib(h, j):
        c = F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("long")
        if j + 8 < bits:
            c = c + F.shiftleft(
                F.shiftright(h, j + 8).bitwiseAND(F.lit(1)).cast("long"), 32
            )
        return c

    acc0 = F.struct(
        *[F.lit(0).cast("long").alias(f"c{j}") for j in range(lanes)]
    )
    acc = F.aggregate(
        hashes,
        acc0,
        lambda a, h: F.struct(
            *[(a[f"c{j}"] + contrib(h, j)).alias(f"c{j}") for j in range(lanes)]
        ),
    )
    out = F.lit(0).cast("long")
    for i in range(bits):
        j = i % 8
        ones = (
            acc[f"c{j}"].bitwiseAND(F.lit(0xFFFFFFFF))
            if i < 8
            else F.shiftrightunsigned(acc[f"c{j}"], 32)
        )
        out = out + F.when(ones * 2 > n, F.lit(1 << i)).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def simhash_dup_groups(documents: DataFrame, k: int = 3, bits: int = 16) -> DataFrame:
    """Docs sharing an identical SimHash — hamming-0 near-dup groups.
    (Hamming<=d grouping: see simhash64_pairs_banded.)"""
    withsim = spread_input(documents).select(
        "doc_id", simhash_col(F.col("text"), k, bits).alias("simhash")
    )
    return (
        withsim.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash64_col(text, k: int = 3):
    """64-bit SimHash as a vectorized pandas UDF (Arrow batches).

    The 16-bit column-expression variant above codegens but 64 per-bit
    aggregates would bloat the generated code; the production path is one
    Arrow pass: per doc, hash each word-k-gram's md5 to 64 bits
    (first 16 hex digits), vote +1/-1 per bit per occurrence, emit the
    sign vector packed into a signed long (bit 63 may set the sign — the
    value is an opaque key, only equality/xor matter).

    Same tokenization contract as textops.shingles_col: split on single
    space, k-grams with duplicates kept, whole text when < k tokens.
    """
    import hashlib

    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # Memory bound per vectorized fold: the bit matrix costs
    # ~128 B/gram at peak (unpackbits + the contiguous transposed copy).
    # A 10k-row Arrow batch of web documents (~1k grams/doc) folded whole
    # would put multi-GB of transient numpy buffers in one Python worker —
    # so the batch is folded in sub-chunks capped at MAX_FOLD_GRAMS grams
    # (~256 MB peak), same vectorized kernel, identical output. A single
    # pathological document still folds alone (the doc is the atomic unit);
    # its gram count is bounded by the document length upstream filters cap.
    max_fold_grams = int(MAX_FOLD_GRAMS)  # captured at call time (testable)

    @pandas_udf(T.LongType())
    def _simhash64(texts: pd.Series) -> pd.Series:
        # Whole-batch numpy vote fold (a per-row 64-bit python loop is
        # ~64x slower — this kernel IS the t12 pipeline's wall at
        # 100 TB). Python touches each gram only for the
        # md5 (C-speed, unavoidable); the 64 per-bit votes happen as ONE
        # unpackbits + reduceat over the concatenated digest buffer per
        # bounded fold chunk. Bit order: int(hexdigest[:16], 16) is the
        # big-endian read of the first 8 digest bytes, so unpackbits
        # (MSB-first) yields columns bit63..bit0 and packbits + a
        # big-endian u8 view reassembles the identical integer.
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype="int64")
        out = np.empty(n_docs, dtype=np.int64)
        digests: list[bytes] = []
        counts_l: list[int] = []
        idx_l: list[int] = []
        total = 0

        def fold() -> None:
            nonlocal digests, counts_l, idx_l, total
            if not idx_l:
                return
            gram_counts = np.asarray(counts_l, dtype=np.int64)
            bits = np.unpackbits(
                np.frombuffer(b"".join(digests), dtype=np.uint8)
            ).reshape(-1, 64)
            starts = np.zeros(len(gram_counts), dtype=np.int64)
            np.cumsum(gram_counts[:-1], out=starts[1:])
            # reduceat along the CONTIGUOUS axis (segments of a transposed
            # copy) — reducing axis=0 of the (grams, 64) layout strides the
            # whole matrix per segment and measured ~6x slower
            bt = np.ascontiguousarray(bits.T)
            counts = np.add.reduceat(bt, starts, axis=1, dtype=np.int32).T
            pos = counts * 2 > gram_counts[:, None]  # votes = 2*ones - n > 0
            packed = (
                np.ascontiguousarray(np.packbits(pos, axis=1))
                .view(">u8").ravel().astype(np.uint64)
            )
            out[np.asarray(idx_l)] = packed.view(np.int64)  # two's-complement
            digests, counts_l, idx_l, total = [], [], [], 0

        for i, s in enumerate(texts):
            toks = s.split(" ")
            if len(toks) >= k:
                grams = [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
            else:
                grams = [" ".join(toks)]
            counts_l.append(len(grams))
            idx_l.append(i)
            digests.append(
                b"".join(hashlib.md5(g.encode("utf-8")).digest()[:8] for g in grams)
            )
            total += len(grams)
            if total >= max_fold_grams:
                fold()
        fold()
        return pd.Series(out)

    return _simhash64(text)


def simhash64_pairs_banded(
    documents: DataFrame,
    k: int = 3,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash with banded candidate generation.

    Pigeonhole: two hashes within hamming distance d < bands must agree
    exactly on at least one of the ``bands`` bit-slices — so candidates
    come from equi-joins on (band_id, band_bits), never an all-pairs scan,
    and the exact hamming check (bit_count(xor), JVM builtin) runs on
    candidates only. Same scale shape as minhash_lsh_pairs. Requires
    max_hamming < bands for completeness (asserted).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: banding would miss "
            "pairs (pigeonhole needs d < bands)"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    withsim = spread_input(documents).select(
        "doc_id", simhash64_col(F.col("text"), k).alias("simhash")
    )
    # materialize the simhash table before the band self-join — both
    # join sides reference the same subtree, so the Arrow kernel (the
    # expensive half of this operator) otherwise runs TWICE. Checkpoint,
    # not cache: lineage is truncated so the blocks are released when the
    # returned frame is dropped (ContextCleaner), no CacheManager pin.
    # The relation is 16 B/doc — the same class as the banked signature
    # tables the incremental dedup path persists.
    spark = documents.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None
    withsim = (
        withsim.checkpoint(eager=True)
        if reliable
        else withsim.localCheckpoint(eager=True)
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("slice"),
        )
        for b in range(bands)
    ]
    buckets = withsim.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.slice").alias("slice"))
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "slice"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def fuzzy_dedup_removals(
    documents: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """End-to-end fuzzy-dedup REMOVAL LIST — the full production
    composition (SlimPajama / The Stack shape): MinHash signatures ->
    banded LSH candidates -> exact-Jaccard verify -> connected
    components -> drop every non-minimum doc per cluster.

    Output: (removed_doc_id, keep_doc_id) — one row per document the
    dedup pass deletes, with its cluster's canonical survivor as the
    witness. Apply with a left_anti join on removed_doc_id.

    Scale: every stage is the bounded shape its standalone operator
    already proved — signatures are 2 shuffles regardless of n_hashes,
    candidates are a band equi-join (never corpus**2), verify is costed
    by |candidates|, and components converge in O(cluster diameter)
    iterations. The removal projection adds one filter on the label
    table — no extra shuffle. Reference analog: the dupefilter's
    "seen -> drop" contract (/root/reference/dupefilter.py) lifted from
    exact URL fingerprints to near-duplicate document content.
    """
    pairs = minhash_lsh_pairs(documents, n_hashes, bands, k, threshold, max_df)
    labels = dup_clusters(pairs)
    return labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("removed_doc_id"),
        F.col("cluster_id").alias("keep_doc_id"),
    )


def incremental_exact_dedup(new_docs: DataFrame, seen_fps: DataFrame) -> DataFrame:
    """Cross-round INCREMENTAL exact dedup: keep only new documents whose
    content fingerprint is (a) unseen in the accumulated corpus and
    (b) the minimum doc_id within the new batch for that fingerprint.

    This is the production shape for a continuous crawl feeding a
    training corpus: each round dedups O(batch) new docs against the
    history via one anti-join on the fingerprint — never re-deduping the
    whole corpus. Mirrors the crawl plane's URL seen-set anti-join
    (crawl.py D1) at document-content granularity.

    ``seen_fps`` needs one column ``fingerprint`` (md5 hex, as produced
    by textops.doc_fingerprint / exact_dedup). Output: (doc_id,
    fingerprint) of the kept new documents.

    Scale: in-batch winner is a partial-aggregatable min() (map-side
    combine collapses duplicate-heavy batches before the shuffle); the
    anti-join is an equi-join on the fingerprint — AQE broadcasts the
    batch side when small, sort-merges when not. No corpus-wide shuffle:
    the seen side would be a bucketed/bloom-indexed table at 10^10 fps
    (store.py writes exactly that layout for URL fingerprints).
    """
    batch = (
        new_docs.select(
            doc_fingerprint(F.col("text")).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(
        seen_fps.select("fingerprint"), "fingerprint", "left_anti"
    ).select("doc_id", "fingerprint")


def cluster_best_keeper(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Quality-aware near-dup removal list: per duplicate cluster keep
    the HIGHEST-quality member (ties -> lowest doc_id) and remove the
    rest — what production fuzzy-dedup actually ships (keeping the
    arbitrary min-id doc throws away the best-written copy of every
    mirrored article; cf. the keep-longest / keep-highest-score policies
    in C4/RefinedWeb-lineage pipelines). The min-id variant stays as
    :func:`fuzzy_dedup_removals`'s default; this is its policy layer.

    Inputs: ``clusters`` (doc_id, cluster_id) from :func:`dup_clusters`;
    ``quality`` (doc_id, quality) — any deterministic score (doc_id must
    be numeric for the tiebreak). Output, one row per REMOVED doc:
    (doc_id, cluster_id, quality, keeper_doc_id, keeper_quality,
    n_members).

    Scale shape: one equi-join (both sides 1 row/doc) + one hash-agg to
    1 row per cluster — max(struct(quality, -doc_id)) partial-aggregates
    map-side, so a 10^6-member boilerplate cluster arrives at its
    reducer as per-mapper maxima — + one cluster_id equi-join back.
    Never a window over raw docs, never corpus x corpus.
    """
    m = clusters.join(quality, "doc_id")
    # m feeds both the per-cluster keeper aggregate and the final
    # join back — without materialization the quality side (for t49 a
    # corpus scan + the regex-heavy quality_score) executes twice.
    # Bounded: one row per clustered doc.
    spark = clusters.sparkSession
    m = (
        m.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else m.localCheckpoint(eager=True)
    )
    keep = (
        m.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("best"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("keeper_doc_id"),
            F.col("best.quality").alias("keeper_quality"),
            "n_members",
        )
    )
    return (
        m.join(keep, "cluster_id")
        .filter(F.col("doc_id") != F.col("keeper_doc_id"))
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            "keeper_doc_id",
            "keeper_quality",
            "n_members",
        )
    )


def signature_buckets(
    sigs: DataFrame, n_hashes: int, bands: int
) -> DataFrame:
    """LSH band buckets from a (doc_id, signature) table — the banding
    half of :func:`minhash_lsh_pairs`, factored out so INCREMENTAL
    callers can band a persisted signature table without re-shingling
    the text it came from. Bucket = md5 of the band's signature slice
    (bucket equality == slice equality, md5 collisions aside — the same
    encoding the batch path uses, so both produce identical buckets).

    Output: (doc_id, signature, band, bucket) — the signature array
    rides along (n_hashes longs/doc) so downstream pair scoring never
    joins back to the signature table.
    """
    rpb = n_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[
                    F.col("signature")[b * rpb + r].cast("string")
                    for r in range(rpb)
                ])
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", "signature", F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "doc_id",
        "signature",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    history_sigs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    est_threshold: float = 0.25,
) -> DataFrame:
    """Cross-round INCREMENTAL near-dedup (The-Stack-v2 / BigCode shape):
    dedup O(batch) NEW documents against the accumulated corpus WITHOUT
    re-reading history text — only its persisted MinHash signature table
    (``history_sigs``: (doc_id, signature array<bigint>), as produced by
    :func:`minhash_signatures` on earlier batches). The near-dup
    companion of :func:`incremental_exact_dedup`, mirroring the crawl
    plane's URL seen-set anti-join (/root/reference/dupefilter.py) at
    near-duplicate-content granularity.

    A new doc is removed when its ESTIMATED Jaccard — the fraction of
    matching signature components, the standard signature-space verify
    when history text is gone — reaches ``est_threshold`` against any
    history doc or any LOWER-id doc of the same batch (keep-first;
    greedy, chain-free: the lower-id doc counts even if it is itself
    removed, the standard incremental approximation). Candidates come
    from the band equi-join, so like all LSH this inherits banding's
    probabilistic misses — deterministic ones, replayed exactly by the
    SQL oracle (gate t51).

    Output, one row per removed new doc: (removed_doc_id, witness_id,
    est_jaccard, vs_history) where the witness is the best-matching doc
    (max est_jaccard, ties -> lowest id; vs_history = that witness came
    from history).

    Scale shape: signatures for the BATCH only (2 shuffles); candidates
    are a band equi-join of O(batch) band rows against the banded
    history — an equi-join AQE can skew-split, never corpus x corpus and
    never a re-shingle of history; scoring is in-row array algebra on
    the carried signatures (zip_with/aggregate, no Python); the witness
    pick is one partial-aggregatable min(struct) hash-agg on O(matches)
    rows. At 10^10 docs the banded history is a bucketed table on
    (band, bucket) and the join co-locates — the same layout store.py
    ships for URL fingerprints.
    """
    # spread the batch scan before the in-row signature fold, and
    new_sigs = minhash_signatures(spread_input(new_docs), n_hashes, k)
    # the batch bucket table feeds BOTH the join's left side and the
    # history-union right side — materialize the batch signatures once so
    # the in-row MinHash (md5 per shingle) does not execute twice.
    # O(batch) rows, n_hashes longs each; history_sigs stays caller-owned
    # (referenced once, and at scale it is a persisted table already).
    spark = new_docs.sparkSession
    new_sigs = (
        new_sigs.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else new_sigs.localCheckpoint(eager=True)
    )
    nb = signature_buckets(new_sigs, n_hashes, bands)
    ob = signature_buckets(
        history_sigs.select("doc_id", "signature"), n_hashes, bands
    ).withColumn("is_hist", F.lit(True)).unionByName(
        nb.withColumn("is_hist", F.lit(False))
    )
    cand = (
        nb.alias("n")
        .join(ob.alias("o"), ["band", "bucket"])
        .filter(
            F.col("o.is_hist") | (F.col("o.doc_id") < F.col("n.doc_id"))
        )
        .select(
            F.col("n.doc_id").alias("removed_doc_id"),
            F.col("o.doc_id").alias("witness_id"),
            F.col("o.is_hist").alias("vs_history"),
            F.col("n.signature").alias("sa"),
            F.col("o.signature").alias("sb"),
        )
        # signatures are functionally dependent on the ids, so the
        # arbitrary-row semantics of dropDuplicates is value-deterministic
        .dropDuplicates(["removed_doc_id", "witness_id"])
    )
    est = (
        F.expr(
            "aggregate(zip_with(sa, sb, (x, y) -> cast(x = y as int)), "
            "0, (acc, v) -> acc + v)"
        )
        / F.lit(float(n_hashes))
    )
    scored = cand.withColumn("est_jaccard", F.round(est, 6)).filter(
        F.col("est_jaccard") >= est_threshold
    )
    best = (
        scored.groupBy("removed_doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("est_jaccard")).alias("neg_est"),
                    F.col("witness_id"),
                    F.col("vs_history"),
                )
            ).alias("w")
        )
        .select(
            "removed_doc_id",
            F.col("w.witness_id").alias("witness_id"),
            (-F.col("w.neg_est")).alias("est_jaccard"),
            F.col("w.vs_history").alias("vs_history"),
        )
    )
    return best


def lsh_estimate_audit(
    documents: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH calibration audit — per banded candidate pair, the MinHash
    ESTIMATED Jaccard (matching-component fraction, what the incremental
    path scores with when history text is gone) next to the TRUE shingle
    Jaccard (what :func:`verify_jaccard_pairs` computes when text is
    available), plus the absolute error. This is the measurement that
    justifies an ``est_threshold`` before pointing
    :func:`incremental_minhash_dedup` at a corpus: tune n_hashes/bands
    until the observed error at the decision boundary is acceptable,
    instead of guessing.

    Output: (doc_a, doc_b, est_jaccard, true_jaccard, abs_err), one row
    per distinct banded candidate pair; candidates whose true shingle
    sets are disjoint (pure band collisions) report true_jaccard 0.0.

    Scale shape: everything is candidate-bounded — band equi-join for
    pairs (never corpus²), in-row signature algebra for the estimate,
    the semi-joined inverted-index intersection of the verify path for
    the truth, one left join to stitch them. Runs as a sampled audit at
    10^10 docs (feed it stratified_sample output); the operators audited
    run on the full corpus.
    """
    # spread the scan before the in-row signature fold, and
    sigs = minhash_signatures(spread_input(documents), n_hashes, k)
    # materialize signatures before the banded self-join (both sides
    # of the band equi-join reference this subtree — without it the
    # in-row MinHash runs twice; same fix as minhash_lsh_pairs/t12)
    spark0 = documents.sparkSession
    sigs = (
        sigs.checkpoint(eager=True)
        if spark0.sparkContext.getCheckpointDir() is not None
        else sigs.localCheckpoint(eager=True)
    )
    b = signature_buckets(sigs, n_hashes, bands)
    cand = (
        b.alias("x")
        .join(b.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.signature").alias("sa"),
            F.col("y.signature").alias("sb"),
        )
        # signatures are functionally dependent on the doc ids, so
        # dropDuplicates' arbitrary-row pick is value-deterministic
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.expr(
            "aggregate(zip_with(sa, sb, (x, y) -> cast(x = y as int)), "
            "0, (acc, v) -> acc + v)"
        )
        / F.lit(float(n_hashes))
    )
    estimated = cand.select(
        "doc_a", "doc_b", F.round(est, 6).alias("est_jaccard")
    )
    # estimated feeds both the truth verify and the final stitch join;
    # materialize it once (banded self-join + signature algebra upstream)
    spark = documents.sparkSession
    estimated = (
        estimated.checkpoint(eager=True)
        if spark.sparkContext.getCheckpointDir() is not None
        else estimated.localCheckpoint(eager=True)
    )
    truth = verify_jaccard_pairs(
        documents,
        estimated.select("doc_a", "doc_b"),
        k,
        threshold=0.0,
        cand_materialized=True,
    ).select("doc_a", "doc_b", F.col("jaccard").alias("true_jaccard"))
    return (
        estimated.join(truth, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(F.col("true_jaccard"), F.lit(0.0)).alias(
                "true_jaccard"
            ),
            F.round(
                F.abs(
                    F.col("est_jaccard")
                    - F.coalesce(F.col("true_jaccard"), F.lit(0.0))
                ),
                6,
            ).alias("abs_err"),
        )
    )


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame,
    test_frac: float = 0.1,
    salt: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test split that near-duplicates cannot straddle: the split
    coin is flipped per duplicate CLUSTER (connected component of the
    near-dup pair graph), not per document, so a test document never has
    a near-copy in train — the eval-leakage failure mode document-level
    splitting guarantees on a raw web corpus (t17/t29 decontaminate
    against EXTERNAL benchmarks; this closes the INTERNAL eval split).

    Shape: :func:`dup_clusters` labels only docs that appear in >= 1
    pair — on a real corpus a small subgraph, never O(corpus) state.
    Singleton docs get cluster_id = their own id via one left join +
    coalesce (a projection, no extra shuffle beyond the join). The
    deterministic md5 coin on the CLUSTER id (same u < frac compare as
    stratified_sample, dyadic-exact at frac = n/65536) makes the split
    reproducible across engines, reruns, and partition layouts.

    Output: (id_col, cluster_id, split) for every input document, split
    in {'train', 'test'}.
    """
    clusters = dup_clusters(pairs)
    labeled = (
        documents.select(id_col)
        .join(clusters, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(salt + ":"), F.col("cluster_id").cast("string"))
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("double") / F.lit(65536.0)
    return labeled.select(
        id_col,
        "cluster_id",
        F.when(u < F.lit(float(test_frac)), F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def content_novelty_curve(
    corpus: DataFrame,
    round_col: str = "crawl_round",
    text_col: str = "text",
) -> DataFrame:
    """Per-round content-novelty curve: of each crawl round's rows, how
    many carry a content fingerprint first seen THAT round vs carried
    over from any earlier round — the dedup-plane health metric big
    crawls publish (Common Crawl's "new vs duplicate content per
    snapshot" card) and the signal that says when a frontier has gone
    stale (novelty decaying to boilerplate-only means the scheduler is
    re-fetching mirrors, not discovering).

    Scale shape: one md5 projection in codegen, one min(round) hash-agg
    per fingerprint (partial-aggregated map-side — duplicate-heavy
    rounds collapse before the shuffle, which carries |distinct
    fingerprints|), one equi-join back on fingerprint (O(corpus)), one
    bounded hash-agg to |rounds| rows. No windows over raw rows.

    Output per round: (crawl_round, n_rows, n_novel, novelty_share) —
    novel = the row's fingerprint has min(first_round) == this round.
    NOTE the deliberate semantics: ALL rows of the introducing round
    count novel (two copies landing in the same round are both "first
    seen here"); in-round dedup is :func:`exact_dedup`'s job.
    """
    from .textops import doc_fingerprint

    fp = corpus.select(
        F.col(round_col).cast("long").alias("r"),
        doc_fingerprint(F.col(text_col)).alias("fp"),
    )
    first = fp.groupBy("fp").agg(F.min("r").alias("first_r"))
    return (
        fp.join(first, "fp")
        .groupBy(F.col("r").alias("crawl_round"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("r") == F.col("first_r"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "crawl_round",
            "n_rows",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_rows"), 6
            ).alias("novelty_share"),
        )
    )
