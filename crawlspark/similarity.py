"""Similarity search over an embedding column (array<float>).

Two paths, both pure DataFrame algebra (F.zip_with / F.aggregate — JVM-side
higher-order functions, no Python in the hot loop):

* ``cosine_topk``   — brute-force exact top-k: query set x corpus join,
  cosine, window rank. The correctness baseline; O(|Q|·N) — fine when the
  query set is small or N is bucketed.
* ``lsh_topk``      — random-hyperplane (sign) LSH: deterministic
  hyperplanes derived from coordinate strides bucket vectors; candidates
  are same-bucket pairs only. The scale path: the expensive cosine runs on
  a tiny candidate set, the bucket join is an equi-join Catalyst can
  shuffle-partition — the ANN analog of the frontier's host_bucket
  placement (SURVEY §2.3 P1).

All scoring rounds to 6 decimals so results are stable across summation
orders and bit-identical vs the DuckDB list_cosine_similarity oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import spread_input


def dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a, b):
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding self).

    The query side is tiny -> broadcast; corpus side streams. Ranking key
    includes the neighbor id so ties are deterministic.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # corpus side spread to cluster parallelism: the embeddings table is a
    # single-row-group parquet at sandbox SFs, so the broadcast nested-loop
    # join (and the per-row cosine algebra) would otherwise run as ONE task
    joined = spread_input(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        )
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sign_bucket_col(vec, planes: list[int]):
    """Deterministic sign-LSH bucket: concat of sign bits at the given
    coordinate indices (a fixed, data-independent 'hyperplane' family —
    axis-aligned planes keep the oracle SQL-expressible)."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    planes: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's sign-LSH bucket.
    Recall < 1 by design; the tradeoff is the bucket equi-join replacing
    the full cross product."""
    planes = planes or [0, 1, 2, 3]
    # NOT spread (measured A/B): unlike cosine_topk, the per-row cosine here
    # runs only on the bucket-join candidates, and the bucket projection
    # is too cheap to pay a repartition for (sf0.1: 0.57 s plain vs 0.67
    # spread; sf1.0: tie).
    with_bucket = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        sign_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    q = with_bucket.filter(F.col("neighbor_id").isin(query_ids)).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("nvec").alias("qvec"),
        "bucket",
    )
    joined = with_bucket.join(F.broadcast(q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus into ``nlist`` cells; a query scans only its ``nprobe`` nearest
    cells. The standard production ANN layout (FAISS IVF-Flat shape) done
    Spark-native: centroids broadcast, cell assignment is one pass, the
    search is an equi-join on cell id — same join geometry as the
    frontier's host_bucket placement.

    ``train_fraction``: fit the quantizer on a deterministic sample
    instead of the full corpus — at 10^9+ vectors the iterative k-means
    over everything is the scale bottleneck, and centroids from a few
    hundred-k sample are statistically equivalent (FAISS trains on
    samples for the same reason). Assignment still covers every vector.

    Deterministic given ``seed``. Recall < 1 by design; tests assert
    recall vs cosine_topk.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = embeddings.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("arr"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    train = (
        with_vec.sample(fraction=train_fraction, seed=seed)
        if train_fraction is not None
        else with_vec
    )
    model = KMeans(k=nlist, seed=seed, maxIter=20).fit(train)
    assigned = model.transform(with_vec).select(
        "nid", "arr", F.col("prediction").alias("cell")
    )

    # nprobe nearest centroids per query vector (centroids are tiny ->
    # computed driver-side, shipped as a literal probe map)
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    q_rows = assigned.filter(F.col("nid").isin(query_ids)).select("nid", "arr").collect()

    def _dist2(a, c):
        return sum((float(x) - y) ** 2 for x, y in zip(a, c))

    probes = []
    for r in q_rows:
        order = sorted(range(len(centers)), key=lambda i: _dist2(r["arr"], centers[i]))
        for cell in order[:nprobe]:
            probes.append((int(r["nid"]), [float(x) for x in r["arr"]], cell))
    # explicit schema: an empty probe list (no query_ids present) must
    # yield an empty result like cosine_topk does, not an infer error
    probe_df = embeddings.sparkSession.createDataFrame(
        probes,
        schema="query_id long, qvec array<double>, cell int",
    )

    scored = (
        assigned.join(F.broadcast(probe_df), "cell")
        .filter(F.col("nid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            F.round(cosine_col(F.col("qvec"), F.col("arr")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    planes: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), bucketed by sign-LSH so the pair join never goes
    quadratic over the whole corpus."""
    planes = planes or [0, 1, 2, 3]
    # the within-bucket pair cosines (the operator's real cost — for
    # a corpus of n docs over 2^|planes| buckets, ~n^2/2^(b+1) 64-dim
    # dot products) otherwise run in the lone scan task of a
    # single-row-group embeddings parquet: the bucket join broadcasts
    # its small side and inherits the probe side's 1-partition layout.
    embeddings = spread_input(embeddings)
    wb = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    a = wb.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), "bucket")
    b = wb.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_removals(
    embeddings: DataFrame,
    threshold: float = 0.4,
    planes: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication removal list (SemDeDup, Abbas et al. 2023:
    cluster embeddings, drop all-but-one of each within-cluster
    near-duplicate set). Deterministic lowest-id-wins variant: within a
    sign-LSH bucket, a document is removed iff a LOWER-id document in
    the same bucket has cosine >= threshold to it. The rule is a pure
    function of the pair relation — no greedy sequential scan — so the
    removal set is reproducible across engines, reruns, and partition
    layouts (the property a corpus release needs), and on clique-shaped
    duplicate sets it keeps exactly one representative like the paper's
    per-cluster pass.

    Scale shape: inherits embedding_near_dup's bucketed pair join (never
    corpus x corpus — pairs only form inside an LSH bucket), then one
    hash-agg keyed by the removed id.

    Output: (doc_id, kept_witness, max_cosine, n_neighbors) — one row
    per REMOVED document; keep-set = corpus minus these ids."""
    pairs = embedding_near_dup(embeddings, threshold, planes, id_col, vec_col)
    return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("kept_witness"),
        F.max("cosine").alias("max_cosine"),
        F.count("*").alias("n_neighbors"),
    )


# -- deterministic JL random projection -----------------------------------------


def jl_signs(out_dim: int, in_dim: int, seed: str = "jl") -> list[list[int]]:
    """±1 sign matrix for the Johnson-Lindenstrauss projection, derived
    from md5 so every engine (and the SQL oracle) builds the IDENTICAL
    matrix — the same engine-portable-coin rule as every sampler here.
    Generated driver-side once (out_dim × in_dim ints, trivially tiny)
    and embedded as literals; nothing per-row hashes anything."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16)
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: str = "jl",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a deterministic ±1
    (Achlioptas) matrix: proj_j = Σ_i emb_i · s_ji / √out_dim. The
    dimensionality-reduction stage a 10^10-vector ANN pipeline runs
    BEFORE sign-LSH/IVF — distances are preserved within (1±ε) while
    the bytes shuffled per vector drop in_dim/out_dim-fold (64→16 here:
    4× cheaper bucketing, hashing, and candidate verify).

    Shape: a stateless projection — out_dim literal-sign dot products
    per row, whole-stage codegen, zero shuffles, zero Python. Each
    output component is a LEFT-ASSOCIATIVE sum (element 1 first), the
    same fold order as the SQL twin, and rounded to 6 dp, so the gate
    hashes exactly.

    Output: (id_col, proj array<double>[out_dim]).
    """
    import math

    signs = jl_signs(out_dim, in_dim, seed)
    inv = 1.0 / math.sqrt(float(out_dim))
    comps = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST(element_at({vec_col}, {i + 1}) AS DOUBLE) * "
            f"({signs[j][i]}.0)"
            for i in range(in_dim)
        )
        comps.append(F.expr(f"round(({terms}) * {inv!r}, 6)"))
    return embeddings.select(id_col, F.array(*comps).alias("proj"))


def embedding_health(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-table health card, per label: vector count, dimension
    range (a dim mismatch inside one table breaks every downstream
    dot product), zero-vector count (dead encoder outputs — cosine
    against them is undefined and ANN buckets collect them all), and
    mean L2 norm in integer micro units (un-normalized tables make
    cosine vs dot-product choices load-bearing; the card says which
    world you are in before t07/t09-style ops run).

    Per-row norm is a fixed-order left fold over the vector (cast to
    double per element, the t07 oracle idiom) — deterministic; the
    cross-row mean uses the micro-int trick (round each norm to micro
    BEFORE the long sum). One hash-agg to |labels| rows. Output:
    (label, n_vecs, dim_min, dim_max, n_zero, mean_norm_micro).
    """
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    rows = embeddings.select(
        F.col(label_col).alias("label"),
        F.size(v).cast("long").alias("dim"),
        F.round(norm * 1e6, 0).cast("long").alias("norm_micro"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("dim").alias("dim_min"),
            F.max("dim").alias("dim_max"),
            F.sum(F.when(F.col("norm_micro") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero"),
            F.round(
                F.sum("norm_micro").cast("double")
                / F.count("*").cast("double"),
                0,
            )
            .cast("long")
            .alias("mean_norm_micro"),
        )
    )
